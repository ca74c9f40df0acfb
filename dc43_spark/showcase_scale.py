"""Gate queries for the 100TB-scale extensions (dedup/similarity/text) plus
two analytic benchmark queries, each with a DuckDB oracle.

Cross-engine determinism: integer hash pipelines are md5-prefix based
(identical hex in both engines); float ratios are rounded at 6dp; money
values are BIGINT integer cents end-to-end — DECIMAL outputs are a
driver-hash trap (trailing-zero values stringify differently between the
driver's Spark and DuckDB readers; r1 failed 8 queries on exactly this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dc43_spark.functions import dedup as dd
from dc43_spark.functions import similarity as sim
from dc43_spark.functions import text as tx
from dc43_spark.functions.dedup import MERSENNE31, _hash_params
from dc43_spark.functions.text import LANG_MARKERS
from dc43_spark.showcase import load, load_events, load_spread

NUM_HASHES = 16
SHINGLE = 3
N_PLANES = 8
LSH_SEED = 42
EMB_DIM = 64


def _cents(col: F.Column) -> F.Column:
    """Money column -> exact integer cents. The decimal(18,2) cast is the
    half-up double rounding both engines share (verified row-identical in
    r1); * 100 is then exact and integral, so the final long cast cannot
    diverge (Spark truncates, DuckDB rounds — moot on integral values).
    Downstream sums run over BIGINT: cheaper than decimal aggregation and
    immune to the DECIMAL stringification trap."""
    return (col.cast("decimal(18,2)") * 100).cast("long")


# DuckDB twin of _cents()
_CENTS = "CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)"


# ---------------------------------------------------------------- queries


def q_dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one row per content hash, canonical id + dup count."""
    return dd.exact_dedup(load_spread(spark, sf_dir, "documents"))


def q_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalised md5 fingerprints (rolling-hash style canonical form)."""
    df = load_spread(spark, sf_dir, "documents")
    return df.select("doc_id", tx.fingerprint("text").alias("fp"))


def q_text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counts + punctuation ratio + avg token length per doc."""
    df = load_spread(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.char_count("text").alias("n_chars_obs"),
        tx.punct_ratio("text").alias("punct_ratio"),
        tx.avg_token_length("text").alias("avg_token_len"),
    )


def q_lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-based language ID (argmax, alphabetical tie-break)."""
    df = load_spread(spark, sf_dir, "documents")
    return df.select("doc_id", tx.lang_id("text").alias("lang_pred"))


def q_minhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 md5-derived permutations over 3-shingles),
    emitted as one md5 of the signature for a stable cross-engine hash."""
    sigs = dd.minhash_signatures(
        load_spread(spark, sf_dir, "documents"), num_hashes=NUM_HASHES, shingle_size=SHINGLE
    )
    return sigs.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.transform("signature", lambda x: x.cast("string")))).alias(
            "sig_hash"
        ),
    )


def q_simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (single exploded pass + 60 agg sums)."""
    return dd.simhash64(load_spread(spark, sf_dir, "documents"))


def q_near_dup_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard >= 0.8 pairs via inverted-index self-join.

    The GATE caps the corpus at doc_id < 2000 (same bound in the oracle):
    the inverted-index join is quadratic on hot shingles by nature — it
    exists as the exact baseline; ``minhash_near_dup_documents`` is the
    uncapped scale path over the full corpus."""
    docs = load_spread(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return dd.ngram_jaccard_pairs(docs, threshold=0.8)


def q_minhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup: MinHash -> banded candidates -> exact verify.

    Same >=0.8 exact-Jaccard output as ``near_dup_pairs`` but computed the
    scalable way; at 16 hashes / 2 rows-per-band the pair-miss probability at
    j>=0.8 is (1-j^2)^8 <= 3e-4, so the two gate queries agree on this
    corpus (verified exhaustively at sf0.1)."""
    return dd.minhash_near_duplicates(
        load_spread(
            spark, sf_dir, "documents",
            columns=("doc_id", "text"), pin=True,
        ),
        num_hashes=NUM_HASHES,
        rows_per_band=2,
        shingle_size=SHINGLE,
        threshold=0.8,
    )


def q_dedup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: exact >=0.8 Jaccard pairs -> connected
    components (alternating large-star/small-star, functions/dedup.py
    ``connected_components``) -> every doc labeled with the min doc id of
    its component plus the component size. Singletons cluster as
    themselves. The oracle rebuilds the same closure with a recursive CTE —
    any wrong merge or missed chain changes roots and fails the hash."""
    docs = load_spread(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.8, shingle_size=SHINGLE)
    return dd.dedup_clusters(docs.select("doc_id"), pairs).select(
        "doc_id", "cluster_id", "cluster_size"
    )


def q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: composite heuristic + stopword ratio + BPE-ish
    subword count (all single-pass narrow projections).

    Ratios are emitted as exact integer micro-units (round(r*1e6) half-up
    computed in pure BIGINT arithmetic) — double `round()` is NOT
    cross-engine stable on ties: Spark rounds the shortest decimal repr
    (BigDecimal.valueOf) while DuckDB rounds the exact binary value.

    quality = 0.4*min(n,256)/256 + 0.3*(1-punct/chars) + 0.3*distinct/n
    over the common denominator 2560*chars*n:
      qnum = 4*min(n,256)*chars*n + 768*(chars-punct)*n + 768*distinct*chars
    """
    df = load_spread(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    n = F.size(toks).cast("long")
    dn = F.size(F.array_distinct(toks)).cast("long")
    tc = F.length("text").cast("long")
    pc = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")).cast("long")
    minn = F.least(n, F.lit(256).cast("long"))
    qnum = F.lit(4) * minn * tc * n + F.lit(768) * (tc - pc) * n + F.lit(768) * dn * tc
    qden = F.lit(2560) * tc * n
    hits = tx.word_hits("text", tx.DEFAULT_STOPWORDS).cast("long")

    from dc43_spark.functions.curation import micro_ratio as micro

    return df.select(
        "doc_id",
        micro(qnum, qden).alias("quality_micro"),
        micro(hits, n).alias("stop_micro"),
        tx.subword_count("text").alias("n_subwords"),
    )


def q_cosine_pairs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force baseline; the LSH
    bucketed variant is the scale path — ``ann_lsh_embeddings``).

    The GATE caps the corpus at vec_id < 1000 (same bound in the oracle):
    the output is quadratic by definition, so an uncapped gate would
    dominate bench time forever (r1: 15.8s of 69.9s) while proving nothing
    the first 1000 vectors don't."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    # compute each vector's norm ONCE (persist = plan barrier, else
    # projection collapse inlines the norm expression into the pair join and
    # recomputes it |corpus| times per vector); cosine keeps the exact
    # dot/(na*nb) formula so values match the oracle bit-for-bit
    vecs = emb.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    vecs = vecs.select("vec_id", "v", sim.l2_norm(F.col("v")).alias("nrm")).persist()
    # the embeddings file arrives as ONE partition; without a repartition the
    # nested-loop pair join runs on a single core (measured 22-49s vs 3.5s)
    n_part = spark.sparkContext.defaultParallelism
    a = vecs.repartition(n_part).select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                sim.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
    )


def q_ann_lsh_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 for the first 10 vectors: deterministic
    random-hyperplane buckets + Hamming-1 multi-probe, exact cosine within
    buckets. The oracle replicates the bucketing bit-for-bit, so parity is
    exact by construction (approximation is in WHICH pairs are scored, and
    both engines score the same pairs)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.lsh_bucketed_topk(
        queries, emb, k=5, n_planes=N_PLANES, seed=LSH_SEED, dim=EMB_DIM, multi_probe=1
    )


def _media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MEDIA_SCHEMA frame synthesised from documents: payload
    is the md5 digest bytes of the text (binary), media_type cycles by id,
    duration derives from length — both engines can rebuild it exactly."""
    df = load_spread(spark, sf_dir, "documents")
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.to_binary(F.md5("text"), F.lit("hex")).alias("payload"),
        F.struct(
            F.lit("fake").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 100).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column stats without decode (pure JVM): byte length + a
    content hash over the hex form (DuckDB's md5 is VARCHAR-only)."""
    media = _media_frame(spark, sf_dir)
    return media.select(
        "media_id",
        "media_type",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5(F.lower(F.hex("payload"))).alias("content_hash"),
    )


def q_frame_plan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: explode on metadata only — the decode
    fan-out is planned (and repartitionable) before any codec runs."""
    from dc43_spark.functions.multimodal import frame_sample_plan

    return frame_sample_plan(_media_frame(spark, sf_dir), every_ms=1000)


def _encode_batch(pdf) -> list[bytes]:
    """Deterministic container bytes per (doc_id, n_chars) row: doc_id%4
    selects PNG (filtered scanlines, pixel[i]=i%256), JPEG (REAL baseline
    entropy stream: constant-gray pixels at quality 50 — the luma DC quant
    step is exactly 16, so an even pixel value round-trips losslessly and
    a SQL oracle can predict the decoded sum), WAV (PCM16), or MP4;
    dimensions/rates derive from doc fields by pure-arithmetic formulas."""
    import numpy as np

    from dc43_spark.functions import multimodal as mm
    from dc43_spark.functions.jpeg import jpeg_encode

    payloads = []
    for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
        did, nch = int(did), int(nch)
        kind = did % 4
        if kind == 0:
            w, h, c = nch % 64 + 1, did % 48 + 1, 1 + (did % 2) * 2
            px = (np.arange(w * h * c) % 256).astype(np.uint8).reshape(h, w, c)
            payloads.append(mm.png_encode(px))
        elif kind == 1:
            w, h, c = nch % 64 + 1, did % 48 + 1, 1 + (did % 2) * 2
            # value constant per 8x8 block but VARYING across blocks:
            # still DC-only (lossless at q50 for even values) yet forces
            # nonzero DC diffs through the Huffman category coder and the
            # cross-block/cross-MCU prediction chain
            bx = np.arange(w) // 8
            by = np.arange(h) // 8
            v = 2 * ((did * 3 + nch + 5 * bx[None, :] + 11 * by[:, None]) % 128)
            px = np.repeat(v[:, :, None], c, axis=2).astype(np.uint8)
            payloads.append(jpeg_encode(px, quality=50))
        elif kind == 2:
            rate = 8000 + (did % 5) * 2000
            chans = 1 + did % 2
            n = nch * 10 * chans
            samples = ((np.arange(n) % 256) - 128).astype(np.int16)
            payloads.append(mm.wav_encode(samples, sample_rate=rate, channels=chans))
        else:
            w, h = nch % 128 + 16, did % 72 + 9
            payloads.append(mm.mp4_encode_header(w, h, nch * 10))
    return payloads


def _encoded_media_frame(
    spark: SparkSession, sf_dir: str, docs_filter=None
) -> DataFrame:
    """(media_id, payload) frame of real container bytes (see
    _encode_batch) — the standalone encode stage for gates that feed the
    payloads onward (pixel stats). ``docs_filter`` prunes documents
    BEFORE the encode kernel (media_id == doc_id, so an id filter
    commutes with the encode; the optimizer cannot push it through the
    opaque mapInPandas itself)."""
    import pandas as pd

    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "n_chars")
    if docs_filter is not None:
        docs = docs.filter(docs_filter)

    def encode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": _encode_batch(pdf)}
            )

    return docs.mapInPandas(encode, "media_id long, payload binary")


def q_media_probe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-header probe over real PNG/JPEG/WAV bytes (functions/
    multimodal.py png_header/jpeg_header/wav_header): the oracle predicts
    every parsed field from the generating formulas, so a header-parser bug
    anywhere fails the hash.

    encode->probe runs FUSED in one mapInPandas: two chained Python
    operators each run their own Arrow round-trip (JVM->py->JVM->py), so
    parsing what the same process just encoded would serialize the whole
    payload stream twice for nothing."""
    import pandas as pd

    from dc43_spark.functions import multimodal as mm

    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def encode_probe(batches):
        for pdf in batches:
            payloads = _encode_batch(pdf)
            rows = []
            for mid, payload in zip(pdf["doc_id"], payloads):
                fmt = w = h = c = depth = rate = dur = None
                png = mm.png_header(payload)
                if png is not None:
                    fmt, (w, h, c, depth) = "png", png
                else:
                    jpg = mm.jpeg_header(payload)
                    if jpg is not None:
                        fmt, (w, h, c), depth = "jpeg", jpg, 8
                    else:
                        wav = mm.wav_header(payload)
                        if wav is not None:
                            fmt = "wav"
                            rate, c, depth, dur = wav
                        else:
                            mp4 = mm.mp4_header(payload)
                            if mp4 is not None:
                                fmt, (w, h, dur) = "mp4", mp4
                rows.append((int(mid), fmt, w, h, c, depth, rate, dur))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "format", "width", "height",
                    "channels", "bit_depth", "sample_rate", "duration_ms",
                ],
            )

    return docs.mapInPandas(encode_probe, mm.PROBE_SCHEMA)


def q_image_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel statistics over BOTH still-image formats:

    - PNG (media_id%4==0): zlib-decompress + unfilter (all five scanline
      filters are exercised by the encoder); pixel[i] = i % 256 gives the
      oracle a closed form — n full 256-cycles of sum 32640 plus a
      rem*(rem-1)/2 tail. Any unfilter mistake shifts the sum.
    - JPEG (media_id%4==1): full baseline ENTROPY decode (Huffman ->
      dequant -> IDCT, functions/jpeg.py). Payloads are gray with a value
      constant per 8x8 block but varying ACROSS blocks at quality 50: even
      values survive the lossy pipeline exactly (DC = 8(v-128) quantized
      by exactly 16, ACs zero), while the block-to-block deltas force
      nonzero DC diffs through the Huffman category coder and the
      cross-MCU prediction chain. The oracle sums v*block-area in closed
      form — a wrong Huffman table, dequant step, DC predictor, or IDCT
      scaling all shift the sum and fail the hash."""
    from dc43_spark.functions.multimodal import IMAGE_STATS_SCHEMA

    # media_id == doc_id 1:1, so the still-image filter applies BEFORE
    # the encode kernel: mapInPandas is opaque to the optimizer, and
    # filtering after it encoded (then discarded) the WAV/MP4 half of
    # the corpus (guide §4 — push predicates below opaque operators by
    # hand). encode->stats runs FUSED in one mapInPandas (r15, guide §4):
    # two chained Python operators each pay their own Arrow round-trip
    # AND their own Python worker per task — the chained shape needed a
    # 2x worker pool that cold-forked mid-bench; the fused stage ships
    # payload bytes to Python exactly once and never back.
    docs = (
        load_spread(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("doc_id") % 4 <= 1)
    )

    def encode_stats(batches):
        from dc43_spark.functions.multimodal import image_stats_rows

        for pdf in batches:
            yield image_stats_rows(pdf["doc_id"], _encode_batch(pdf))

    return docs.mapInPandas(encode_stats, IMAGE_STATS_SCHEMA)


def q_knn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors vs the corpus,
    via the Arrow/BLAS matmul kernel (exact — every pair is scored; only
    the summation order differs from the sequential expression tree, which
    the 6-dp rounding absorbs: a flip needs a true cosine within ~1e-13 of
    a 0.5e-6 rounding boundary, ~1e-7 odds per emitted value; identical
    duplicate vectors produce bit-equal scores on both engines and fall to
    the deterministic id tie-break, so ties are safe). The expression-tree
    twin `cosine_topk` stays oracle-pinned in tests/test_similarity.py. r4->r5: the
    expression path's bench drift (1.02->2.35s) was JIT noise — microbench
    steady state 0.74s — but the matmul kernel also skips the big codegen
    plan entirely, so rep0 is fast too."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_matmul(queries, emb, k=5)


KMEANS_K = 8
KMEANS_SEED = 7
KMEANS_SAMPLE_N = 3


def q_cluster_sample_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced REPRESENTATIVE sampling (functions/clustering.py):
    assign every corpus vector to its nearest of 8 fixed seeded unit
    centroids by cosine (argmax ties -> lowest centroid id, same as the
    oracle's rank-1-by-(cos DESC, cid ASC)), keep the 3 most central rows
    per cluster. The codebook is fixed so the oracle can embed the same
    literal doubles; the DISTRIBUTED k-means trainer that would produce
    it at scale is pinned against a NumPy Lloyd twin in
    tests/test_clustering.py. Plan: one narrow Arrow matmul for
    assignment + one window shuffle with map-side WindowGroupLimit —
    the 100 TB shape for domain-balancing a crawl."""
    from dc43_spark.functions.clustering import (
        cluster_balanced_sample,
        seeded_centroids,
    )

    emb = load_spread(spark, sf_dir, "embeddings")
    cent = seeded_centroids(EMB_DIM, KMEANS_K, seed=KMEANS_SEED)
    picked = cluster_balanced_sample(
        emb,
        cent,
        n_per_cluster=KMEANS_SAMPLE_N,
        by="representative",
        join_back=False,
    )
    return picked.select(
        "cluster_id",
        "vec_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("score", 6).alias("cosine"),
    )


def _cluster_sample_sql() -> str:
    """Same seeded codebook as literal doubles (repr round-trips exactly),
    same assignment tie-break, same per-cluster rank order."""
    from dc43_spark.functions.clustering import seeded_centroids

    cent = seeded_centroids(EMB_DIM, KMEANS_K, seed=KMEANS_SEED)
    values = ", ".join(
        f"({cid}, [" + ", ".join(repr(x) for x in row) + "])"
        for cid, row in enumerate(cent)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c(cid, cv) AS (SELECT * FROM (VALUES {values})),
scored AS (
  SELECT vec_id, cid, list_cosine_similarity(v, cv) AS cos
  FROM e CROSS JOIN c
), assigned AS (
  SELECT vec_id, cid, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS arank
  FROM scored
), ranked AS (
  SELECT CAST(cid AS BIGINT) AS cluster_id, vec_id, cos,
         row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM assigned WHERE arank = 1
)
SELECT cluster_id, vec_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {KMEANS_SAMPLE_N}
"""


def q_ann_ivfpq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 at FULL probe with exact rescoring: every list is
    probed and the rescore re-ranks k*8 candidates with exact cosine, so
    the result equals brute-force KNN and the exact oracle hash-checks
    the whole encode/probe/ADC/rescore machinery (same pattern as the
    ivf/int8 gates). Partial-probe recall is measured in
    tests/test_similarity_ivfpq.py and tools/ladder.py ann_recall."""
    emb = load_spread(spark, sf_dir, "embeddings")
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return sim.ivfpq_topk(
        queries, emb, k=5, n_centroids=16, nprobe=16, rescore_factor=8, seed=42
    ).withColumnRenamed("score", "cosine")


def q_ann_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 at FULL probe (nprobe == n_centroids): every list is
    probed, so the result equals exact brute force and the brute-force
    oracle hash-checks the whole train/assign/inverted-list-join machinery.
    Partial-probe recall (the actual approximation) is asserted in
    tests/test_similarity_ivf.py."""
    # corpus spread across cores: centroid assignment is a narrow
    # mapInPandas, so its parallelism is the scan's partition count
    emb = load_spread(spark, sf_dir, "embeddings")
    queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return sim.ivf_topk(queries, emb, k=5, n_centroids=16, nprobe=16, seed=42)


_STREAM_SRC_DIRS: dict[str, str] = {}


def _stream_src_dir(sf_dir: str) -> str:
    """FileStreamSource requires a DIRECTORY; the driver ships a bare
    parquet file. Expose it through a symlink dir created ONCE per sf_dir
    (r1 leaked one mkdtemp per invocation) and removed at exit."""
    import atexit
    import os
    import shutil
    import tempfile

    d = _STREAM_SRC_DIRS.get(sf_dir)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="dc43_stream_src_")
        os.symlink(f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet"))
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _STREAM_SRC_DIRS[sf_dir] = d
    return d


def _ivf8_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Manifest-keyed PERSISTENT index cache (r6 advice #4): the int8 IVF
    index lives under the system temp dir keyed on (build params, corpus
    fingerprint) and is reused across processes — a fresh bench/microbench
    process pays a manifest stat, not a 10 s rebuild. The fingerprint is
    the corpus file's (path, size, mtime_ns): any data refresh changes it
    and forces a rebuild, exactly how a deployment keys index freshness to
    table versions. Builds land via temp-dir + atomic rename, manifest
    written inside BEFORE the rename, so concurrent builders race safely
    (loser's rename fails, winner's complete index is used)."""
    import hashlib
    import json
    import os
    import shutil
    import tempfile

    corpus = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(corpus)
    manifest = {
        "corpus": os.path.abspath(corpus),
        "size": st.st_size,
        "mtime_ns": st.st_mtime_ns,
        "n_centroids": 16,
        "seed": 42,
        "layout": 1,  # bump to invalidate on index format changes
    }
    key = hashlib.md5(json.dumps(manifest, sort_keys=True).encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"dc43_ivf8_cache_{key}")
    mf = os.path.join(d, "_build_manifest.json")
    try:
        with open(mf) as fh:
            if json.load(fh) == manifest:
                return d
    except (OSError, ValueError):
        pass
    staging = tempfile.mkdtemp(prefix="dc43_ivf8_build_")
    try:
        sim.ivf_write_index_quantized(
            load_spread(spark, sf_dir, "embeddings"), staging,
            n_centroids=16, seed=42,
        )
        with open(os.path.join(staging, "_build_manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(d, ignore_errors=True)
        try:
            os.rename(staging, d)
        except OSError:
            pass  # concurrent builder won the rename; use its index
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return d


def q_ann_ivf_int8_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized IVF ANN (SQ8 codes, partition-per-list index) at FULL
    probe with exact rescoring of the top k*8 candidates. Full probe makes
    the candidate pool global, and the int8 coarse ranking only has to keep
    the true top-5 inside its top-40 — verified to hold at sf0.01 and sf0.1
    — so the exact-KNN oracle hash-checks the entire
    write-index -> partition-prune -> int8-score -> rescore pipeline.
    Partial-probe recall (the real approximation) is asserted in
    tests/test_similarity_quant.py."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ivf_query_index_quantized(
        spark,
        _ivf8_index_dir(spark, sf_dir),
        queries,
        emb,
        k=5,
        nprobe=16,
        rescore_factor=8,
    )


def q_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase event matched to the same
    user's most recent view event at-or-before it (backward point-in-time
    join — one shuffle + window, see functions/asof.py). Oracle is DuckDB's
    native ASOF JOIN, so the semantics are cross-checked against an
    independent implementation, not just SQL algebra."""
    from dc43_spark.functions.asof import asof_join
    from dc43_spark.showcase import load_events

    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="view_ts"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "view_event_id",
        "view_ts",
        # integer `div` end-to-end: double division + cast diverges across
        # engines (Spark truncates, DuckDB rounds); timestampdiff is
        # NTZ-native, so no session-tz round-trip can skew the gap
        F.expr(
            "timestampdiff(MICROSECOND, view_ts, ts) div 1000000"
        ).alias("gap_sec"),
    )


def q_salted_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders x customer via SALTED join (hot-custkey mitigation pattern,
    functions/skew.py), then the same nation rollup as orders_by_nation —
    row-identical by construction, so that gate's oracle hash-verifies the
    salting rewrite end-to-end."""
    from dc43_spark.functions.skew import salted_join

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey")
    )
    nation = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    joined = salted_join(orders, customer, on=["o_custkey"], salt=8)
    return (
        joined.join(nation, joined.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_value_cents"),
        )
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: per-type aggregates at
    month, day, AND hour grain in ONE pass via GROUPING SETS. Catalyst
    plans a single scan + Expand(3x) + one partial-agg shuffle — versus
    three separate scan+shuffle jobs for three groupBys; at 100 TB that is
    the difference between reading the table once and three times.
    Finer-grain columns are NULL at coarser grains (standard grouping-sets
    shape, identical in the DuckDB oracle)."""
    from dc43_spark.showcase import load_events

    ev = load_events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "value",
    )
    return base.groupingSets(
        [
            ["event_type", "month"],
            ["event_type", "month", "day"],
            ["event_type", "month", "day", "hour"],
        ],
        "event_type",
        "month",
        "day",
        "hour",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
    )


def q_interval_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: each error event matched to the session interval that
    contains it. Bucketized equi-join (functions/ranges.py) — one hash
    shuffle — instead of the naive per-key nested loop; the oracle is the
    naive BETWEEN join in DuckDB, so the rewrite is hash-verified."""
    from dc43_spark.functions.ranges import interval_join
    from dc43_spark.showcase import load_events
    from dc43_spark.streaming.sessions import sessionize

    ev = load_events(spark, sf_dir)
    sessions = sessionize(ev, gap_minutes=30)
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    out = interval_join(
        errors,
        sessions,
        on=["user_id"],
        point_ts="ts",
        start_ts="session_start",
        end_ts="session_end",
        bucket_width_seconds=3600,
    )
    return out.select("event_id", "user_id", "ts", "session_seq", "n_events")


def q_user_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) over events — window-function batch
    path; the streaming twin is the applyInPandasWithState operator in
    streaming/sessions.py."""
    from dc43_spark.showcase import load_events
    from dc43_spark.streaming.sessions import sessionize

    return sessionize(load_events(spark, sf_dir), gap_minutes=30)


class _stream_partitions:
    """Scope ``spark.sql.shuffle.partitions`` down for a streaming gate.

    A stateful streaming query fixes ONE state store per shuffle partition
    at its first checkpoint; the session default (32, sized for batch
    scans) means 32 state stores + 32 Arrow/Python workers + 32 commit
    files per micro-batch for a 100k-row sf0.1 replay — pure fixed
    overhead (r6 verdict item 6 profiling: state update+commit CPU drops
    5-10x at 8 partitions; walCommit/planning were never the floor —
    ``tools/job_profile.py <gate>`` prints each streaming query's summed
    progress phases to re-check it). These gates create a FRESH checkpoint
    per invocation, so scoping the conf around query start is safe and
    leaves batch queries untouched. At 100 TB you raise it per query —
    state partitioning is a per-workload knob, not a session constant.

    r15 (VERDICT r14 #6): also scope OFF the trailing NO-DATA microbatch.
    The engine appends one empty batch after the data so event-time
    timers/evictions observe the final watermark — but these gates make
    it a no-op BY CONSTRUCTION (the dedup/session gates pin a 365-day
    watermark delay precisely so no timer can fire during the replay,
    and the hourly agg runs in complete mode, which re-emits everything
    each data batch), while the empty batch still pays a full
    state-store load + commit across every partition plus a WAL/offset
    round-trip. Measured: 2 -> 1 microbatches per gate run. A production
    stream that RELIES on timers must keep the default."""

    def __init__(self, spark: SparkSession, n: int = 8) -> None:
        self.spark, self.n = spark, n

    def __enter__(self) -> None:
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.prev_nodata = self.spark.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true"
        )
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        self.spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        self.spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", self.prev_nodata
        )


def q_streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming twin of ``events_hourly``: file stream source ->
    event-time tumbling window + watermark -> availableNow trigger -> memory
    sink (complete mode). Tumbling 1h windows are epoch-aligned, so
    ``window.start == date_trunc('hour', ts)`` and the BATCH oracle applies
    verbatim — the streaming plan is oracle-checked, not just row-counted.

    The window/date_trunc equivalence assumes the session tz offset is a
    whole hour (window() aligns to the UTC epoch; date_trunc truncates in
    session-local wall clock): exact under this repo's UTC-pinned sessions,
    misaligned under a +5:30-style or mid-query-DST tz."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value_cents")
    )
    name = "dc43_stream_events_hourly"
    with _stream_partitions(spark):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table, dtype-adaptive on ``ts`` (nanos
    files stream as long and are rebuilt; micros files pass through — see
    showcase.normalize_event_ts)."""
    from pyspark.sql.types import TimestampNTZType

    from dc43_spark.showcase import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(_stream_src_dir(sf_dir))
    ev = normalize_event_ts(stream)
    if isinstance(ev.schema["ts"].dataType, TimestampNTZType):
        # watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
        # The NTZ wall clock is interpreted in the session tz and timestamp
        # outputs render back in the same tz, so the round trip is identity.
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    return ev


def _run_stream_to_table(df: DataFrame, spark: SparkSession, name: str) -> DataFrame:
    # append-mode memory tables persist across invocations in one session;
    # drop first so a re-run never accumulates the previous pass's rows
    spark.catalog.dropTempView(name)
    with _stream_partitions(spark):
        query = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup under the driver oracle: first
    occurrence per (user_id, event_type) key. The 365-day horizon keeps
    every key's state live for the whole availableNow replay, so the
    surviving KEY SET equals batch DISTINCT exactly; only the keys are
    emitted because which physical row survives per key is a scan-order
    artifact, not a semantic."""
    from dc43_spark.streaming.dedup import dedup_stream

    deduped = dedup_stream(
        _events_stream(spark, sf_dir),
        keys=["user_id", "event_type"],
        ts_col="ts",
        delay="365 days",
    ).select("user_id", "event_type")
    return _run_stream_to_table(deduped, spark, "dc43_stream_dedup_events")


def q_streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState) under the
    driver oracle. With a 365-day watermark delay no event-time timer can
    fire during the availableNow replay, so the emitted set is exactly the
    GAP-closed sessions — every session except each user's final open one —
    and the batch window-function oracle predicts it deterministically
    (timer-path closure is pinned separately in test_sessions)."""
    from dc43_spark.streaming.sessions import sessionize_stream

    sessions = sessionize_stream(
        _events_stream(spark, sf_dir), gap_minutes=30, watermark_delay="365 days"
    )
    return _run_stream_to_table(sessions, spark, "dc43_stream_user_sessions")


def q_json_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured parsing: the events ``props`` column is a JSON
    document; parse it ONCE per row with a typed schema (``from_json`` —
    single JVM-side parse, no per-path re-parsing the way chained
    ``get_json_object`` calls would) and aggregate the extracted field
    per event type."""
    ev = load_events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count_if(F.col("k").isNull()).cast("long").alias("n_missing"),
        )
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary, exact in integer units: cents for
    sums, 1e-4 units for the discounted sum — price*(1-disc)*1e4 ==
    price_cents * (100 - disc_hundredths), pure BIGINT arithmetic."""
    li = load(spark, sf_dir, "lineitem")
    qty_c = _cents(F.col("l_quantity"))
    price_c = _cents(F.col("l_extendedprice"))
    disc_h = _cents(F.col("l_discount"))  # 0.05 -> 5 hundredths
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_c).alias("sum_qty_cents"),
            F.sum(price_c).alias("sum_base_price_cents"),
            F.sum(price_c * (F.lit(100) - disc_h)).alias("sum_disc_price_e4"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by order value — broadcast dim join + agg + top-k."""
    orders = load(spark, sf_dir, "orders")
    customer = F.broadcast(load(spark, sf_dir, "customer"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(_cents(F.col("o_totalprice"))).alias("total_value_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .orderBy(F.col("total_value_cents").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way join rollup: orders x customer x nation with BOTH dims
    broadcast (nation is tiny, customer small) — the probe side streams with
    no shuffle until the final small groupBy."""
    orders = load(spark, sf_dir, "orders")
    customer = F.broadcast(
        load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    nation = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_value_cents"),
        )
    )


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand top-3 parts by lineitem revenue: broadcast dim join +
    window top-k (rank inside partial-aggregated groups, not a global sort)."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    part = F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand"))
    price_c = _cents(F.col("l_extendedprice"))
    disc_h = _cents(F.col("l_discount"))
    revenue = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(F.sum(price_c * (F.lit(100) - disc_h)).alias("revenue_e4"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("revenue_e4").desc(), F.col("p_partkey").asc()
    )
    return (
        revenue.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_name", "revenue_e4", "rank")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event rollup (streaming-shaped agg in batch form)."""
    from dc43_spark.showcase import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
    )


# ---------------------------------------------------------------- oracles

# trim first — Spark's tokens() trims before splitting, and DuckDB splits
# leading whitespace into a phantom '' token otherwise
_TOKS = "string_split_regex(trim(text), '\\s+')"
_SHINGLES = (
    f"list_distinct([ s[i] || ' ' || s[i+1] || ' ' || s[i+2] "
    f"for i in range(1, len(s) - 1) ])"
)


def _minhash_sql() -> str:
    mins = ", ".join(
        f"list_min([ ({a} * h + {b}) % {MERSENNE31} for h in hashes ])::VARCHAR"
        for a, b in (_hash_params(i) for i in range(NUM_HASHES))
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_TOKS} AS s FROM documents)
), hashed AS (
  SELECT doc_id,
         [ ('0x' || substr(md5(x), 1, 7))::BIGINT for x in shingles ] AS hashes
  FROM sh
)
SELECT doc_id, md5(array_to_string([{mins}], ',')) AS sig_hash FROM hashed
"""


def _simhash_sql(bits: int = 60) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    recompose = " + ".join(
        # parens required: << binds looser than + in DuckDB
        f"((CASE WHEN s{j} > 0 THEN 1 ELSE 0 END)::BIGINT << {j})" for j in range(bits)
    )
    return f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t
), s AS (
  SELECT doc_id, {sums} FROM h GROUP BY doc_id
)
SELECT doc_id, {recompose} AS simhash FROM s
"""


def _near_dup_sql(where: str = "") -> str:
    return _NEAR_DUP_SQL_T.format(where=where)


_NEAR_DUP_SQL_T = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles
  FROM (SELECT doc_id, {_TOKS} AS s FROM documents{{where}})
), t AS (
  SELECT doc_id, unnest(shingles) AS sh FROM sh
), sizes AS (
  SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.8
"""


def _lang_id_sql() -> str:
    langs = sorted(LANG_MARKERS)
    hits = ", ".join(
        "len([ x for x in toks if list_contains({m}, lower(x)) ]) AS {lang}".format(
            m="[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]", lang=lang
        )
        for lang in langs
    )
    greatest = "greatest(" + ", ".join(langs) + ")"
    first_match = " ".join(f"WHEN {lang} = m THEN '{lang}'" for lang in langs)
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
scored AS (SELECT doc_id, {hits} FROM t),
m AS (SELECT *, {greatest} AS m FROM scored)
SELECT doc_id, CASE WHEN m = 0 THEN 'und' {first_match} END AS lang_pred FROM m
"""


_TEXT_STATS_SQL = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_obs,
  round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) / length(text), 6) AS punct_ratio,
  round(list_sum([ length(x) for x in {_TOKS} ]) / len({_TOKS}), 6) AS avg_token_len
FROM documents
"""

_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         CAST(len({_TOKS}) AS BIGINT) AS n,
         CAST(len(list_distinct({_TOKS})) AS BIGINT) AS dn,
         CAST(length(text) AS BIGINT) AS tc,
         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS pc,
         CAST(len([ x for x in {_TOKS} if list_contains({{stopwords}}, lower(x)) ]) AS BIGINT)
           AS hits
  FROM documents
), q AS (
  SELECT doc_id, text, n, hits,
         4 * least(n, 256) * tc * n + 768 * (tc - pc) * n + 768 * dn * tc AS qnum,
         2560 * tc * n AS qden
  FROM t
)
SELECT doc_id,
  (2 * qnum * 1000000 + qden) // (2 * qden) AS quality_micro,
  (2 * hits * 1000000 + n) // (2 * n) AS stop_micro,
  CAST(len(regexp_extract_all(text, '{{bpe}}')) AS BIGINT) AS n_subwords
FROM q
"""


def _quality_sql() -> str:
    from dc43_spark.functions.text import BPE_TOKEN_RE, DEFAULT_STOPWORDS

    stopwords = "[" + ", ".join(f"'{w}'" for w in DEFAULT_STOPWORDS) + "]"
    # DuckDB string literals are not escape-processed: pass the regex verbatim
    return _QUALITY_SQL.replace("{stopwords}", stopwords).replace("{bpe}", BPE_TOKEN_RE)


_COSINE_PAIRS_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 1000)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


def _ann_lsh_sql() -> str:
    """Replicates lsh_bucketed_topk bit-for-bit: same seeded hyperplanes
    (literal doubles round-trip exactly), same bit packing, same Hamming-1
    multi-probe, same tie-break."""
    from dc43_spark.functions.similarity import hyperplanes

    planes = hyperplanes(EMB_DIM, N_PLANES, seed=LSH_SEED)
    bucket = " + ".join(
        "((CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(x) for x in plane)
        + f"]) > 0 THEN 1 ELSE 0 END)::BIGINT << {i})"
        for i, plane in enumerate(planes)
    )
    probes = ", ".join(f"xor(bucket, {1 << i})" for i in range(N_PLANES))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS q_id, v AS q_vec,
             unnest([bucket, {probes}]) AS bucket
      FROM b WHERE vec_id < 10),
scored AS (
  SELECT q_id, c.vec_id AS n_id, list_cosine_similarity(q_vec, c.v) AS cos
  FROM q JOIN b c USING (bucket) WHERE q_id <> c.vec_id
), ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


_MULTIMODAL_STATS_SQL = """
SELECT doc_id AS media_id,
       ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
       CAST(octet_length(unhex(md5(text))) AS BIGINT) AS n_bytes,
       md5(lower(hex(unhex(md5(text))))) AS content_hash
FROM documents
"""

_FRAME_PLAN_SQL = """
WITH v AS (
  SELECT doc_id AS media_id,
         CAST((n_chars * 100) // 1000 AS INTEGER) AS nf
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST(unnest(range(0, greatest(nf, 1))) AS INTEGER) AS frame_idx,
       CAST(unnest(range(0, greatest(nf, 1))) AS INTEGER) * 1000 AS frame_ts_ms
FROM v
"""

# Transitive closure of the >=0.8 exact-Jaccard graph via recursive CTE:
# min reachable id per node = the cluster root the star algorithm must
# find; docs with no edges cluster as themselves.
_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_near_dup_sql()}),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
roots AS (
  SELECT u AS node, least(min(v), u) AS root FROM reach GROUP BY u
),
clustered AS (
  SELECT d.doc_id, COALESCE(r.root, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN roots r ON d.doc_id = r.node
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM clustered
"""

# Predicts every field the real header parsers must recover from the
# encoded bytes (see _encoded_media_frame formulas). Integer division
# everywhere -> exact cross-engine match.
_MEDIA_PROBE_SQL = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 4 AS INTEGER)
            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
       CASE WHEN doc_id % 4 IN (0, 1) THEN CAST(n_chars % 64 + 1 AS INTEGER)
            WHEN doc_id % 4 = 3 THEN CAST(n_chars % 128 + 16 AS INTEGER) END AS width,
       CASE WHEN doc_id % 4 IN (0, 1) THEN CAST(doc_id % 48 + 1 AS INTEGER)
            WHEN doc_id % 4 = 3 THEN CAST(doc_id % 72 + 9 AS INTEGER) END AS height,
       CASE WHEN doc_id % 4 IN (0, 1) THEN CAST(1 + (doc_id % 2) * 2 AS INTEGER)
            WHEN doc_id % 4 = 2 THEN CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
       CASE WHEN doc_id % 4 IN (0, 1) THEN CAST(8 AS INTEGER)
            WHEN doc_id % 4 = 2 THEN CAST(16 AS INTEGER) END AS bit_depth,
       CASE WHEN doc_id % 4 = 2 THEN CAST(8000 + (doc_id % 5) * 2000 AS INTEGER) END AS sample_rate,
       CASE WHEN doc_id % 4 = 2
            THEN CAST((n_chars * 10 * 1000) // (8000 + (doc_id % 5) * 2000) AS BIGINT)
            WHEN doc_id % 4 = 3 THEN CAST(n_chars * 10 AS BIGINT)
       END AS duration_ms
FROM documents
"""

# PNG (doc_id%4=0): pixel[i] = i % 256 over n = w*h*c pixels -> (n // 256)
# full cycles of sum 32640 plus a 0..rem-1 tail. JPEG (doc_id%4=1):
# gray value constant per 8x8 block, v(bx,by) = 2*((doc_id*3 + n_chars +
# 5bx + 11by) % 128), quality 50 -> DC-only blocks decode losslessly, so
# sum = c * SUM over blocks of v * cropped-block-area (block grids are
# bounded: w<=64 -> bx<8, h<=48 -> by<6, hence the constant ranges).
_IMAGE_STATS_SQL = """
WITH img AS (
  SELECT doc_id,
         CAST(n_chars % 64 + 1 AS INTEGER) AS w,
         CAST(doc_id % 48 + 1 AS INTEGER) AS h,
         CAST(1 + (doc_id % 2) * 2 AS INTEGER) AS c,
         CAST(doc_id % 4 AS INTEGER) AS kind,
         doc_id * 3 + n_chars AS a
  FROM documents WHERE doc_id % 4 <= 1
), jpeg_sum AS (
  SELECT i.doc_id,
         SUM(CAST(2 * ((i.a + 5 * bx.g + 11 * by.g) % 128) AS BIGINT)
             * LEAST(8, i.w - 8 * bx.g) * LEAST(8, i.h - 8 * by.g)) AS s
  FROM img i, range(0, 8) bx(g), range(0, 6) by(g)
  WHERE i.kind = 1 AND bx.g < (i.w + 7) // 8 AND by.g < (i.h + 7) // 8
  GROUP BY i.doc_id
), sized AS (
  SELECT i.doc_id, w, h, c, kind, CAST(w AS BIGINT) * h * c AS n, j.s
  FROM img i LEFT JOIN jpeg_sum j ON i.doc_id = j.doc_id
), summed AS (
  SELECT doc_id, w, h, c, n,
         CASE WHEN kind = 0
              THEN (n // 256) * 32640 + ((n % 256) * ((n % 256) - 1)) // 2
              ELSE c * s END AS pixel_sum
  FROM sized
)
SELECT doc_id AS media_id, w AS width, h AS height, c AS channels,
       CAST(pixel_sum AS BIGINT) AS pixel_sum,
       CAST(pixel_sum * 1000000 // n AS BIGINT) AS pixel_mean_micro
FROM summed
"""

_KNN_SQL = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS n_vec FROM embeddings),
scored AS (
  SELECT q_id, n_id, list_cosine_similarity(q_vec, n_vec) AS cos
  FROM q CROSS JOIN c WHERE q_id <> n_id
), ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cosine
FROM ranked WHERE rank <= 5
"""

_QTY_C = _CENTS.format(col="l_quantity")
_PRICE_C = _CENTS.format(col="l_extendedprice")
_DISC_H = _CENTS.format(col="l_discount")
_OTOTAL_C = _CENTS.format(col="o_totalprice")

_PRICING_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum({_QTY_C}) AS BIGINT) AS sum_qty_cents,
  CAST(sum({_PRICE_C}) AS BIGINT) AS sum_base_price_cents,
  CAST(sum({_PRICE_C} * (100 - {_DISC_H})) AS BIGINT) AS sum_disc_price_e4,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""

_TOP_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name,
  CAST(sum({_OTOTAL_C}) AS BIGINT) AS total_value_cents,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_value_cents DESC, c_custkey ASC LIMIT 10
"""

_ORDERS_BY_NATION_SQL = f"""
SELECT n_name,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum({_OTOTAL_C}) AS BIGINT) AS total_value_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_TOP_PARTS_SQL = f"""
WITH rev AS (
  SELECT p_brand, p_partkey, p_name,
    CAST(sum({_PRICE_C} * (100 - {_DISC_H})) AS BIGINT) AS revenue_e4
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey, p_name
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY p_brand ORDER BY revenue_e4 DESC, p_partkey ASC
  ) AS rank FROM rev
)
SELECT p_brand, p_partkey, p_name, revenue_e4, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""

_ASOF_ATTRIBUTION_SQL = """
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, event_id AS view_event_id, CAST(ts AS TIMESTAMP) AS view_ts
  FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id, p.ts, v.view_event_id, v.view_ts,
       (epoch_us(p.ts) - epoch_us(v.view_ts)) // 1000000 AS gap_sec
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts >= v.view_ts
"""

_USER_SESSIONS_SQL = """
WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
m AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
            > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM e
), s AS (
  SELECT user_id, ts,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM m
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_seq
"""

_STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"

# gap-closed sessions only: the per-user LAST session stays open in state
# (the 365-day watermark never fires its timer during the replay)
_STREAM_SESSIONS_SQL = f"""
WITH g AS ({_USER_SESSIONS_SQL})
SELECT user_id, session_start, session_end, n_events
FROM g QUALIFY session_seq < max(session_seq) OVER (PARTITION BY user_id)
"""

_EVENTS_ROLLUP_SQL = f"""
-- date_trunc('day'/'month') yields DATE in DuckDB but TIMESTAMP in Spark;
-- cast so the stringified grains agree
SELECT event_type,
       CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS month,
       CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum({_CENTS.format(col="value")}) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY GROUPING SETS (
  (event_type, date_trunc('month', CAST(ts AS TIMESTAMP))),
  (event_type, date_trunc('month', CAST(ts AS TIMESTAMP)),
   date_trunc('day', CAST(ts AS TIMESTAMP))),
  (event_type, date_trunc('month', CAST(ts AS TIMESTAMP)),
   date_trunc('day', CAST(ts AS TIMESTAMP)),
   date_trunc('hour', CAST(ts AS TIMESTAMP)))
)
"""

_INTERVAL_JOIN_SESSIONS_SQL = f"""
SELECT err.event_id, err.user_id, err.ts, sess.session_seq, sess.n_events
FROM (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'error'
) err
JOIN ({_USER_SESSIONS_SQL}) sess
  ON err.user_id = sess.user_id
 AND err.ts BETWEEN sess.session_start AND sess.session_end
"""

_JSON_PROPS_SQL = """
WITH e AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
)
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(k) AS BIGINT) AS sum_k,
  CAST(min(k) AS BIGINT) AS min_k,
  CAST(max(k) AS BIGINT) AS max_k,
  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM e GROUP BY event_type
"""

_EVENTS_HOURLY_SQL = f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum({_CENTS.format(col="value")}) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
"""

_NORMALIZE = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)

SCALE_QUERIES = {
    "dedup_exact_documents": q_dedup_exact_documents,
    # r8 rotation: simhash/near_dup_pairs move to extras (both subsumed
    # by minhash_near_dup's exact-Jaccard oracle + dedup_clusters' pair
    # mining) in favour of the r8 ops below
    "cluster_sample_embeddings": q_cluster_sample_embeddings,
    "minhash_near_dup_documents": q_minhash_near_dup_documents,
    "dedup_clusters_documents": q_dedup_clusters_documents,
    "quality_documents": q_quality_documents,
    "media_probe_documents": q_media_probe_documents,
    "image_stats_documents": q_image_stats_documents,
    "cosine_pairs_embeddings": q_cosine_pairs_embeddings,
    "ann_lsh_embeddings": q_ann_lsh_embeddings,
    "ann_ivf_embeddings": q_ann_ivf_embeddings,
    # r10 rotation: ann_ivf_int8 moves to extras (quantization twin of
    # ann_ivf — same index/probe path, int8 rescore pinned by
    # test_similarity_quant) for the Delta writer + DV-merge gates
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "asof_purchase_attribution": q_asof_purchase_attribution,
    "interval_join_sessions": q_interval_join_sessions,
    "events_rollup": q_events_rollup,
    "user_sessions_events": q_user_sessions_events,
    "streaming_events_hourly": q_streaming_events_hourly,
    "streaming_dedup_events": q_streaming_dedup_events,
    "streaming_user_sessions": q_streaming_user_sessions,
}

SCALE_ORACLES = {
    "dedup_exact_documents": (
        "SELECT min(doc_id) AS doc_id, md5(text) AS fp, "
        "CAST(count(*) AS BIGINT) AS n_dups FROM documents GROUP BY md5(text)"
    ),
    "cluster_sample_embeddings": _cluster_sample_sql(),
    "minhash_near_dup_documents": _near_dup_sql(),  # LSH must agree with exact here
    "dedup_clusters_documents": _DEDUP_CLUSTERS_SQL,
    "quality_documents": _quality_sql(),
    "media_probe_documents": _MEDIA_PROBE_SQL,
    "image_stats_documents": _IMAGE_STATS_SQL,
    "cosine_pairs_embeddings": _COSINE_PAIRS_SQL,
    "ann_lsh_embeddings": _ann_lsh_sql(),
    # full probe == exact brute force, so the KNN oracle applies verbatim
    "ann_ivf_embeddings": _KNN_SQL,
    "pricing_summary": _PRICING_SQL,
    "top_customers": _TOP_CUSTOMERS_SQL,
    "asof_purchase_attribution": _ASOF_ATTRIBUTION_SQL,
    "interval_join_sessions": _INTERVAL_JOIN_SESSIONS_SQL,
    "events_rollup": _EVENTS_ROLLUP_SQL,
    "user_sessions_events": _USER_SESSIONS_SQL,
    # streaming result is the batch aggregation (complete mode, epoch-aligned
    # tumbling windows) — the batch oracle applies verbatim
    "streaming_events_hourly": _EVENTS_HOURLY_SQL,
    "streaming_dedup_events": _STREAM_DEDUP_SQL,
    "streaming_user_sessions": _STREAM_SESSIONS_SQL,
}

#: gates consolidated OUT of the driver's 50-slot correctness window
#: (r5, VERDICT r4 next-steps #1) — each is subsumed by a registered gate:
#: minhash signatures feed the hash-gated minhash_near_dup LSH pipeline;
#: orders_by_nation / events_hourly share their oracle VERBATIM with the
#: registered salted / streaming variants; multimodal_stats' byte-level
#: stats are pure-JVM projections pytest-pinned in test_multimodal. All
#: four still run in bench.py (r1-comparable timings) and under
#: `pytest -m parity`.
def q_video_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pixel statistics through the FULL in-tree video path:
    JPEG-encode per-frame pixels (block-constant q50 — lossless family,
    see image_stats) -> pack into an MJPEG MP4 with real stts/stsc/stsz/
    stco sample tables (multimodal.mjpeg_mp4_encode) -> re-extract every
    sample through the generic table walker (mjpeg_mp4_frames) -> entropy
    -decode each frame (jpeg.jpeg_decode) -> per-video frame count,
    duration and pixel sums. The oracle predicts every number in closed
    form from the generating formulas, so a bug in the sample-table
    writer, the chunk-offset mapping, OR the JPEG codec shifts the sums
    and fails the hash. Fused encode+decode in one mapInPandas: chaining
    two Python stages would Arrow-round-trip the payload bytes twice."""
    import numpy as np
    import pandas as pd

    docs = (
        load_spread(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("doc_id") % 4 == 3)
    )

    def encode_decode(batches):
        from dc43_spark.functions import multimodal as mm
        from dc43_spark.functions.jpeg import jpeg_decode, jpeg_encode

        for pdf in batches:
            rows = []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nch = int(did), int(nch)
                w, h = nch % 32 + 8, did % 24 + 8
                nf = did % 3 + 2
                bx = np.arange(w) // 8
                by = np.arange(h) // 8
                frames = []
                for f in range(nf):
                    v = 2 * ((did * 3 + nch + 7 * f + 5 * bx[None, :] + 11 * by[:, None]) % 128)
                    frames.append(
                        jpeg_encode(v[:, :, None].astype(np.uint8), quality=50)
                    )
                payload = mm.mjpeg_mp4_encode(frames, w, h, frame_ms=40)
                decoded = [jpeg_decode(fb) for fb in mm.mjpeg_mp4_frames(payload)]
                psum = int(sum(int(p.sum()) for p in decoded))
                n = w * h * len(decoded)
                rows.append(
                    (did, w, h, len(decoded), 40 * len(decoded), psum,
                     psum * 1_000_000 // n)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "n_frames",
                    "duration_ms", "pixel_sum", "pixel_mean_micro",
                ],
            )

    return docs.mapInPandas(
        encode_decode,
        "media_id long, width int, height int, n_frames int, "
        "duration_ms long, pixel_sum long, pixel_mean_micro long",
    )


_VIDEO_STATS_SQL = """
WITH vid AS (
  SELECT doc_id,
         CAST(n_chars % 32 + 8 AS INTEGER) AS w,
         CAST(doc_id % 24 + 8 AS INTEGER) AS h,
         CAST(doc_id % 3 + 2 AS INTEGER) AS nf,
         doc_id * 3 + n_chars AS a
  FROM documents WHERE doc_id % 4 = 3
), sums AS (
  SELECT v.doc_id,
         SUM(CAST(2 * ((v.a + 7 * f.g + 5 * bx.g + 11 * by.g) % 128) AS BIGINT)
             * LEAST(8, v.w - 8 * bx.g) * LEAST(8, v.h - 8 * by.g)) AS s
  FROM vid v, range(0, 4) f(g), range(0, 5) bx(g), range(0, 4) by(g)
  WHERE f.g < v.nf AND bx.g < (v.w + 7) // 8 AND by.g < (v.h + 7) // 8
  GROUP BY v.doc_id
)
SELECT v.doc_id AS media_id, v.w AS width, v.h AS height, v.nf AS n_frames,
       CAST(v.nf * 40 AS BIGINT) AS duration_ms,
       CAST(s.s AS BIGINT) AS pixel_sum,
       CAST(s.s * 1000000 // (CAST(v.w AS BIGINT) * v.h * v.nf) AS BIGINT)
         AS pixel_mean_micro
FROM vid v JOIN sums s ON v.doc_id = s.doc_id
"""


def q_duplicated_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-PASSAGE mining (dedup.duplicated_spans, the Lee
    et al. substring-dedup signal): maximal runs of consecutive 3-token
    windows whose window text repeats anywhere in the corpus. The oracle
    recomposes windows, corpus counts, and the gaps-and-islands run
    collapse in SQL, so the whole span algebra is hash-pinned."""
    docs = load_spread(spark, sf_dir, "documents")
    return dd.duplicated_spans(docs, k=SHINGLE, min_occurrences=2)


_DUP_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
  FROM documents WHERE trim(text) <> ''
), w AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
           unnest([{'pos': i - 1,
                    'g': md5(array_to_string(tk[i:i+2], ' '))}
                   for i in range(1, len(tk) - 1)]) AS u
    FROM t WHERE len(tk) >= 3
  )
), c AS (
  SELECT g FROM w GROUP BY g HAVING count(*) >= 2
), d AS (
  SELECT w.doc_id, w.pos FROM w JOIN c USING (g)
), i AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM d
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) + 2 AS BIGINT) AS span_tokens
FROM i GROUP BY doc_id, grp
"""


EXTRA_QUERIES = {
    "minhash_documents": q_minhash_documents,
    "multimodal_stats": q_multimodal_stats,
    "orders_by_nation": q_orders_by_nation,
    "events_hourly": q_events_hourly,
    # r7 rotation (VERDICT r6 #2): long-stable gates displaced from the
    # 50-slot window in favour of the r6 operators — each subsumed by a
    # richer surviving gate: fingerprint by dedup_exact (same md5-keyed
    # normalize+hash kernel feeding a groupBy), text_stats by quality
    # (same token/length/punct projections plus the verdict), frame_plan
    # by video_stats (real sample-table walk vs the planned one), and
    # knn by ann_ivf at full probe (identical exact-KNN oracle).
    "fingerprint_documents": q_fingerprint_documents,
    "text_stats_documents": q_text_stats_documents,
    "frame_plan_documents": q_frame_plan_documents,
    "knn_embeddings": q_knn_embeddings,
    # r8 rotation (VERDICT r7 #1): displaced for the snaplog table-format
    # gates (ivm/cdf/mor-delete/stream source) — each subsumed by a richer
    # surviving gate: lang_id by quality/corpus_filter (same n-gram text
    # kernel family), json_props by events_rollup (same events JSON
    # projections under a richer agg), salted_orders_by_nation by
    # top_customers (same broadcast-dim join; the salting twin is
    # plan-pinned in test_skew), top_parts by top_customers (same
    # revenue-top-k shape over a bigger join).
    "lang_id_documents": q_lang_id_documents,
    "top_parts_by_revenue": q_top_parts_by_revenue,
    "json_props_events": q_json_props_events,
    "salted_orders_by_nation": q_salted_orders_by_nation,
    # r8: the composed ANN tier at its exact setting (oracle = brute KNN)
    "ann_ivfpq_embeddings": q_ann_ivfpq_embeddings,
    # r8 rotation: displaced in favour of cluster_sample_embeddings +
    # wap_publish_orders (see SCALE_QUERIES note) — still oracle-checked
    # here on every pytest run
    "simhash_documents": q_simhash_documents,
    "near_dup_pairs_documents": q_near_dup_pairs_documents,
    # r10 rotation: int8-rescore ANN twin of the surviving ann_ivf gate
    # (full probe + exact rescore == exact KNN; test_similarity_quant
    # pins the quantization kernel) — displaced for the Delta DML gates
    "ann_ivf_int8_embeddings": q_ann_ivf_int8_embeddings,
}

EXTRA_ORACLES = {
    "minhash_documents": _minhash_sql(),
    "multimodal_stats": _MULTIMODAL_STATS_SQL,
    "orders_by_nation": _ORDERS_BY_NATION_SQL,
    "events_hourly": _EVENTS_HOURLY_SQL,
    "fingerprint_documents": f"SELECT doc_id, md5({_NORMALIZE}) AS fp FROM documents",
    "text_stats_documents": _TEXT_STATS_SQL,
    "frame_plan_documents": _FRAME_PLAN_SQL,
    "lang_id_documents": _lang_id_sql(),
    "top_parts_by_revenue": _TOP_PARTS_SQL,
    "json_props_events": _JSON_PROPS_SQL,
    "salted_orders_by_nation": _ORDERS_BY_NATION_SQL,
    "knn_embeddings": _KNN_SQL,
    "simhash_documents": _simhash_sql(),
    "near_dup_pairs_documents": _near_dup_sql(" WHERE doc_id < 2000"),
    "ann_ivfpq_embeddings": _KNN_SQL,
    "ann_ivf_int8_embeddings": _KNN_SQL,
}

# r7 rotation: the r6 operators move INTO the driver window (their defs
# sit below the main registry, so they join it here).
SCALE_QUERIES["duplicated_spans_documents"] = q_duplicated_spans_documents
SCALE_QUERIES["video_stats_documents"] = q_video_stats_documents
SCALE_ORACLES["duplicated_spans_documents"] = _DUP_SPANS_SQL
SCALE_ORACLES["video_stats_documents"] = _VIDEO_STATS_SQL
