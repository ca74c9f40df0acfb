"""The three benchmark workloads and the driver-side models that check them.

Every workload is a closed loop with one client: one cycle is a write-side
op followed by a read-side op, and the next cycle starts only after both
return. Inputs come from the workload seed alone; the library only sees
the DataFrames built here. ``build`` makes the inputs, ``write``/``read``
are the timed ops, and ``verify`` compares their outputs with the model.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dc43_spark.contracts.model import Contract, QualityRule, SchemaObject, SchemaProperty
from dc43_spark.functions import curation, dedup, similarity
from dc43_spark.governance.orchestrator import GovernanceService
from dc43_spark.io.merge import merge_with_contract
from dc43_spark.io.read import read_with_contract
from dc43_spark.io.snaplog import DATA_DIR, LOG_DIR, SnaplogTable
from dc43_spark.io.violation_strategy import SplitWriteViolationStrategy
from dc43_spark.io.write import write_with_contract

STATUSES = np.array(["NEW", "PAID", "SHIPPED", "CANCELLED"])


def _contract(cid: str, props: list[SchemaProperty]) -> Contract:
    return Contract(
        id=cid, version="1.0.0", schema_objects=[SchemaObject(name=cid, properties=props)]
    )


def _dir_files(root: str) -> dict[str, int]:
    """Files under ``root`` (relative path -> bytes), without marker files."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _write_inputs(pdf: pd.DataFrame, path: str, schema: pa.Schema, parts: int = 4) -> str:
    """Write generated rows as ``parts`` parquet files for Spark to open.

    Inputs are staged with pyarrow, not ``createDataFrame``: a frame built
    from pandas is a driver-side local relation that every action re-ships."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    step = -(-len(pdf) // parts)
    for j in range(parts):
        pq.write_table(table.slice(j * step, step), os.path.join(path, f"part-{j}.parquet"),
                       compression="none")
    return path


def _ddl(schema: pa.Schema) -> str:
    names = {pa.int64(): "bigint", pa.int32(): "int", pa.string(): "string"}
    return ", ".join(f"{f.name} {names[f.type]}" for f in schema)


# ----------------------------------------------------------- governed_ingest


class GovernedIngest:
    """Validate, split, land and read back orders-like batches.

    Each batch carries planted violations of every rule kind on disjoint
    rows. Batch ``i`` lands in slot ``i % WINDOW`` (overwrite), and the
    read covers every landed slot, so once warm-up has filled the window
    every read spans ``WINDOW`` batches."""

    name = "governed_ingest"
    ROWS = 100_000
    WINDOW = 4
    SHARE = 0.004  # planted share per violation kind
    WARMUP = 5
    CYCLE_S = 3.0  # nominal cycle time; fixes the timed cycle count (run.py)
    unit_rows = ROWS

    contract = _contract("bench.orders", [
        SchemaProperty("order_id", "bigint", required=True, unique=True),
        SchemaProperty("customer_id", "bigint", required=True),
        SchemaProperty("status", "string", required=True,
                       quality=[QualityRule("enum", list(STATUSES))]),
        SchemaProperty("amount_cents", "bigint", required=True,
                       quality=[QualityRule("ge", 0), QualityRule("le", 10_000_000)]),
        SchemaProperty("email", "string", required=True,
                       quality=[QualityRule("regex", r"^c[0-9]+@shop\.com$")]),
        SchemaProperty("qty", "int", required=True),
        SchemaProperty("region", "string", required=True),
    ])
    schema = pa.schema([
        ("order_id", pa.int64()), ("customer_id", pa.int64()), ("status", pa.string()),
        ("amount_cents", pa.int64()), ("email", pa.string()), ("qty", pa.int32()),
        ("region", pa.string()),
    ])

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.land = os.path.join(root, "land")
        self.inputs = os.path.join(root, "inputs")

    def _batch(self, rng, b: int):
        n, k = self.ROWS, int(self.ROWS * self.SHARE)
        order_id = b * n + np.arange(1, n + 1, dtype=np.int64)
        customer = rng.integers(1, 200_000, n)
        email = [f"c{c}@shop.com" for c in customer.tolist()]
        pdf = pd.DataFrame({
            "order_id": order_id,
            "customer_id": pd.array(customer, dtype="Int64"),
            "status": STATUSES[rng.integers(0, len(STATUSES), n)],
            "amount_cents": rng.integers(0, 5_000_000, n),
            "email": email,
            "qty": rng.integers(1, 20, n).astype(np.int32),
            "region": np.array(["north", "south", "east", "west"])[rng.integers(0, 4, n)],
        })
        planted = rng.permutation(n)[: 6 * k].reshape(6, k)
        null_rows, enum_rows, range_rows, regex_rows, dup_rows, dup_of = planted
        pdf.loc[null_rows, "customer_id"] = pd.NA
        pdf.loc[enum_rows, "status"] = "UNKNOWN"
        pdf.loc[range_rows, "amount_cents"] = -rng.integers(1, 1000, k)
        pdf.loc[regex_rows, "email"] = "c0-at-shop.com"
        # a duplicate key rides on a row that also breaks the range rule, so
        # the unique metric sees it while the valid side stays unique
        pdf.loc[dup_rows, "order_id"] = order_id[dup_of]
        pdf.loc[dup_rows, "amount_cents"] = -rng.integers(1, 1000, k)
        reject = np.zeros(n, bool)
        reject[planted[:5].ravel()] = True
        valid = pdf[~reject]
        model = {
            "violations.not_null_customer_id": k,
            "violations.enum_status": k,
            "violations.ge_amount_cents": 2 * k,
            "violations.le_amount_cents": 0,
            "violations.regex_email": k,
            "violations.unique_order_id": k,
            "rejects": int(reject.sum()),
            "valid": (len(valid), int(valid.order_id.sum()), int(valid.amount_cents.sum())),
        }
        return _write_inputs(pdf, os.path.join(self.inputs, f"batch{b}"), self.schema), model

    def build(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.batches = [self._batch(rng, b) for b in range(self.WINDOW)]
        # checksum of the valid rows in slots 0..j, for the read after cycle j
        valid = np.array([m["valid"] for _, m in self.batches], dtype=object)
        self.window_model = [tuple(int(x) for x in row) for row in np.cumsum(valid, axis=0)]

    def start(self) -> None:
        reader = self.spark.read.schema(_ddl(self.schema))
        self.frames = [reader.parquet(path) for path, _ in self.batches]

    def prepare(self, i: int) -> None:
        pass

    def write(self, i: int):
        df = self.frames[i % self.WINDOW]
        return write_with_contract(
            df, self.contract, path=os.path.join(self.land, f"slot{i % self.WINDOW}"),
            format="parquet", mode="overwrite",
            strategy=SplitWriteViolationStrategy(), enforce=False,
        )

    def read(self, i: int):
        df, result = read_with_contract(
            self.spark, self.contract, path=os.path.join(self.land, "slot*", "valid"),
            format="parquet",
        )
        row = df.agg(F.count(F.lit(1)), F.sum("order_id"), F.sum("amount_cents")).collect()[0]
        return result, tuple(int(v or 0) for v in row)

    def verify(self, i: int, written, read) -> list[str]:
        _, model = self.batches[i % self.WINDOW]
        errors = []
        metrics = written.validation.metrics
        for key, want in model.items():
            if key.startswith("violations.") and metrics.get(key) != want:
                errors.append(f"{key}={metrics.get(key)} want {want}")
        slot = os.path.join(self.land, f"slot{i % self.WINDOW}")
        sides = self.spark.read.parquet(os.path.join(slot, "valid"), os.path.join(slot, "reject"))
        per_side = dict(sides.groupBy(F.input_file_name().contains("/reject/")).count().collect())
        counts = [per_side.get(False, 0), per_side.get(True, 0)]
        want = [model["valid"][0], model["rejects"]]
        if counts != want or sum(counts) != self.ROWS:
            errors.append(f"valid/reject rows {counts} want {want}")
        result, checksum = read
        want = self.window_model[min(i, self.WINDOW - 1)]
        if result.status != "ok":
            problems = result.warnings + result.errors
            errors.append(f"valid side read back {result.status}: {problems}")
        if checksum != want or result.metrics.get("row_count") != checksum[0]:
            errors.append(f"read checksum {checksum} want {want}")
        return errors

    def storage(self, i: int) -> dict[str, float]:
        files = _dir_files(os.path.join(self.land, f"slot{i % self.WINDOW}"))
        return {
            "storage.files_written": len(files),
            "storage.bytes_per_row": sum(files.values()) / self.ROWS,
        }

    def end_state(self) -> dict[str, float]:
        return {}


# ------------------------------------------------------------ upsert_history


def _checksum(key, cust, status_len, amount, ver) -> tuple[int, ...]:
    mix = (key * 7919 + amount * 31 + ver * 17 + cust * 3 + status_len) % 1_000_003
    return (len(key), int(key.sum()), int(amount.sum()), int(ver.sum()), int(mix.sum()))


def _spark_checksum(df) -> tuple[int, ...]:
    mix = F.pmod(
        F.col("key") * 7919 + F.col("amount_cents") * 31 + F.col("ver") * 17
        + F.col("customer_id") * 3 + F.length("status"),
        F.lit(1_000_003),
    )
    row = df.agg(
        F.count(F.lit(1)), F.sum("key"), F.sum("amount_cents"), F.sum("ver"), F.sum(mix)
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


class UpsertHistory:
    """CDC-style keyed upserts into a snaplog table with the change feed on.

    Each source batch mixes updates, inserts and deletes; updates and
    deletes pick live keys from the most recent ``HOT`` share of the key
    range, skewed toward its newest end. The model keeps the live table in
    dense arrays indexed by key and one checksum per table version."""

    name = "upsert_history"
    TABLE_ROWS = 100_000
    TABLE_FILES = 16
    SOURCE_ROWS = 10_000
    MIX = (0.6, 0.25, 0.15)  # updates, inserts, deletes
    HOT = 0.25  # updates and deletes touch only the newest quarter of live keys
    SKEW = 3.0  # within it, key rank density grows as rank ** (SKEW - 1)
    LAG = 3  # time-travel reads go this many versions back
    FEED = 2  # change-feed reads cover this many latest commits
    WARMUP = 6
    CYCLE_S = 3.0
    unit_rows = SOURCE_ROWS

    contract = _contract("bench.accounts", [
        SchemaProperty("key", "bigint", required=True, unique=True),
        SchemaProperty("customer_id", "bigint", required=True),
        SchemaProperty("status", "string", required=True,
                       quality=[QualityRule("enum", [*STATUSES, "DELETED"])]),
        SchemaProperty("amount_cents", "bigint", required=True, quality=[QualityRule("ge", 0)]),
        SchemaProperty("ver", "bigint", required=True),
    ])
    schema = pa.schema([
        ("key", pa.int64()), ("customer_id", pa.int64()), ("status", pa.string()),
        ("amount_cents", pa.int64()), ("ver", pa.int64()),
    ])

    def __init__(self, spark, root: str, seed: int, tracer) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        self.path = os.path.join(root, "accounts")
        self.inputs = os.path.join(root, "inputs")
        self.gov = GovernanceService()

    def _frame(self, keys):
        return pd.DataFrame({
            "key": keys,
            "customer_id": self.cust[keys],
            "status": STATUSES[self.status[keys]],
            "amount_cents": self.amount[keys],
            "ver": self.ver[keys],
        })

    def _model_checksum(self) -> tuple[int, ...]:
        k = np.flatnonzero(self.alive)
        status_len = np.char.str_len(STATUSES)[self.status[k]]
        return _checksum(k, self.cust[k], status_len, self.amount[k], self.ver[k])

    def build(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        n = self.TABLE_ROWS
        self.alive = np.ones(n, bool)
        self.cust = self.rng.integers(1, 200_000, n)
        self.status = self.rng.integers(0, len(STATUSES), n)
        self.amount = self.rng.integers(0, 5_000_000, n)
        self.ver = np.zeros(n, np.int64)
        base = os.path.join(self.inputs, "base")
        self.base = _write_inputs(self._frame(np.arange(n)), base, self.schema)
        self.version = 0
        self.checksums = {0: self._model_checksum()}
        self.changes: dict[int, tuple[int, int, int]] = {}

    def start(self) -> None:
        base = self.spark.read.schema(_ddl(self.schema)).parquet(self.base)
        SnaplogTable(self.spark, self.path, change_feed=True).write(
            base.repartitionByRange(self.TABLE_FILES, "key").sortWithinPartitions("key"),
            mode="overwrite",
        )

    def _skewed(self, live, count: int):
        # Gumbel top-k: distinct keys drawn with weight rank ** (SKEW - 1)
        live = live[-int(len(live) * self.HOT):]
        rank = np.arange(1, len(live) + 1, dtype=np.float64) / len(live)
        score = (self.SKEW - 1) * np.log(rank) - np.log(-np.log(self.rng.random(len(live))))
        return live[np.argpartition(-score, count)[:count]]

    def prepare(self, i: int) -> None:
        n_upd, n_ins = (int(self.SOURCE_ROWS * s) for s in self.MIX[:2])
        n_del = self.SOURCE_ROWS - n_upd - n_ins
        live = np.flatnonzero(self.alive)
        touched = self._skewed(live, n_upd + n_del)
        upd, dele = touched[:n_upd], touched[n_upd:]
        start = len(self.alive)
        ins = np.arange(start, start + n_ins)
        def grow(a):
            return np.concatenate([a, np.zeros(n_ins, a.dtype)])

        self.alive, self.cust, self.status = grow(self.alive), grow(self.cust), grow(self.status)
        self.amount, self.ver = grow(self.amount), grow(self.ver)
        version = self.version + 1
        new = np.concatenate([upd, ins])
        self.cust[new] = self.rng.integers(1, 200_000, len(new))
        self.status[new] = self.rng.integers(0, len(STATUSES), len(new))
        self.amount[new] = self.rng.integers(0, 5_000_000, len(new))
        self.ver[new] = version
        src = pd.concat([self._frame(new), self._frame(dele).assign(status="DELETED")])
        self.alive[ins] = True
        self.alive[dele] = False
        src = src.sample(frac=1.0, random_state=i)
        self.source = self.spark.read.schema(_ddl(self.schema)).parquet(
            _write_inputs(src, os.path.join(self.inputs, f"source{i}"), self.schema))
        self.before = self.snapshot_files()
        self.pending = (version, self._model_checksum(), (n_ins, n_upd, n_del))

    def write(self, i: int):
        version, checksum, mix = self.pending
        merge_with_contract(
            self.spark, self.source, self.contract, keys=["key"], path=self.path,
            format="snaplog", delete_predicate="s.status = 'DELETED'",
        )
        outcome = self.gov.evaluate_dataset(
            self.source, self.contract, dataset_id="bench.accounts",
            dataset_version=str(version), operation="write",
        )
        self.version = version
        self.checksums[version] = checksum
        self.changes[version] = mix
        return outcome

    def read(self, i: int):
        table = SnaplogTable(self.spark, self.path)
        old = max(0, self.version - self.LAG)
        travel = _spark_checksum(table.read(version_as_of=old))
        first = max(1, self.version - self.FEED + 1)
        changes = table.table_changes(first, self.version)
        feed = dict(changes.groupBy("_change_type").count().collect())
        return old, travel, first, feed

    def verify(self, i: int, written, read) -> list[str]:
        errors = []
        if written.validation.status != "ok":
            errors.append(f"verdict {written.validation.status}: {written.validation.errors}")
        head = _spark_checksum(SnaplogTable(self.spark, self.path).read())
        if head != self.checksums[self.version]:
            errors.append(f"head v{self.version} {head} want {self.checksums[self.version]}")
        old, travel, first, feed = read
        if travel != self.checksums[old]:
            errors.append(f"v{old} {travel} want {self.checksums[old]}")
        commits = [self.changes[v] for v in range(first, self.version + 1)]
        ins, upd, dele = (sum(c[j] for c in commits) for j in range(3))
        want = {"insert": ins, "update_preimage": upd, "update_postimage": upd, "delete": dele}
        if feed != want:
            errors.append(f"change feed {feed} want {want}")
        return errors

    def snapshot_files(self) -> dict[str, int]:
        return _dir_files(os.path.join(self.path, DATA_DIR))

    def storage(self, i: int) -> dict[str, float]:
        after = self.snapshot_files()
        added = sum(b for f, b in after.items() if f not in self.before)
        live = SnaplogTable(self.spark, self.path).snapshot().files
        bytes_per_row = sum(f.bytes for f in live) / sum(f.rows for f in live)
        changed = sum(self.changes[self.version])
        return {"storage.rewrite_amplification": added / (changed * bytes_per_row)}

    def end_state(self) -> dict[str, float]:
        log = _dir_files(os.path.join(self.path, LOG_DIR))
        return {
            "io.snaplog.files_live": len(SnaplogTable(self.spark, self.path).snapshot().files),
            "io.snaplog.log_bytes": sum(log.values()),
        }


# ------------------------------------------------------------- curate_corpus


def _shingles(tokens: list[str], n: int = 3) -> set[str]:
    if len(tokens) < n:
        return {" ".join(tokens)}
    return {" ".join(tokens[j : j + n]) for j in range(len(tokens) - n + 1)}


class CurateCorpus:
    """One LLM-curation pass per cycle over a generated corpus.

    The write-side op runs corpus_filter, exact_dedup,
    minhash_near_duplicates and dedup_clusters, writing each stage's output
    as a curation job would; the read-side op is the cosine_topk_matmul
    similarity search over the curated corpus. The corpus has planted
    short documents (filtered), exact duplicates, near-duplicates (one
    token replaced) and embedding twins (a near-copy of another
    document's embedding)."""

    name = "curate_corpus"
    DOCS = 24_000
    VOCAB = 20_000
    DIM = 32
    SHORT, EXACT, NEAR = 0.03, 0.05, 0.05  # planted shares
    TWIN_SHARE = 1 / 60  # documents whose embedding gets a planted twin
    K = 5
    THRESHOLD = 0.8
    WARMUP = 2
    CYCLE_S = 10.0

    def __init__(self, spark, root: str, seed: int, tracer, docs: int = DOCS) -> None:
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.input = os.path.join(root, "corpus")
        self.docs = self.unit_rows = docs
        self.n_twins = int(docs * self.TWIN_SHARE)

    def build(self) -> None:
        rng = np.random.default_rng(self.seed)
        words = np.array([f"w{j:x}" for j in range(self.VOCAB)])
        stop = np.array(["the", "and", "is", "of", "to", "in", "that", "it"])
        n = self.docs
        lens = rng.integers(60, 140, n)
        tokens = []
        for ln in lens:
            t = words[rng.integers(0, self.VOCAB, ln)]
            mask = rng.random(ln) < 0.3
            t[mask] = stop[rng.integers(0, len(stop), mask.sum())]
            tokens.append(list(t))
        emb = rng.standard_normal((n, self.DIM))
        order = rng.permutation(n)
        shares = (self.SHORT, self.EXACT, self.EXACT, self.NEAR, self.NEAR)
        cuts = np.cumsum([int(n * s) for s in shares])
        short, exact_copy, exact_src, near_copy, near_src = np.split(order[: cuts[-1]], cuts[:-1])
        rest = order[cuts[-1]:]
        twin_a, twin_b = rest[: self.n_twins], rest[self.n_twins : 2 * self.n_twins]
        for j in short:
            tokens[j] = tokens[j][: rng.integers(4, 12)]
        for c, s in zip(exact_copy, exact_src):
            tokens[c] = list(tokens[s])
        for c, s in zip(near_copy, near_src):
            t = list(tokens[s])
            t[len(t) // 2] = f"edit{c}"
            tokens[c] = t
        emb[twin_b] = emb[twin_a] + 0.01 * rng.standard_normal((self.n_twins, self.DIM))
        self.tokens = tokens
        pdf = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": [" ".join(t) for t in tokens],
            "embedding": list(emb),
        })
        schema = pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("embedding", pa.list_(pa.float64())),
        ])
        _write_inputs(pdf, self.input, schema)
        # driver-side model of every stage's surviving ids
        self.kept_filter = set(range(n)) - set(short.tolist())
        copies = {int(max(c, s)) for c, s in zip(exact_copy, exact_src)}
        self.kept_exact = self.kept_filter - copies
        self.planted_pairs = {(int(min(c, s)), int(max(c, s))) for c, s in zip(near_copy, near_src)}
        self.twins = list(zip(twin_a.tolist(), twin_b.tolist()))
        self.query_path = _write_inputs(
            pd.DataFrame({"doc_id": twin_a.astype(np.int64)}), os.path.join(self.root, "queries"),
            pa.schema([("doc_id", pa.int64())]), parts=1,
        )

    def start(self) -> None:
        self.queries = self.spark.read.schema("doc_id bigint").parquet(self.query_path)

    def prepare(self, i: int) -> None:
        pass

    def _out(self, stage: str) -> str:
        return os.path.join(self.root, "pass", stage)

    def _materialise(self, name: str, build):
        with self.tracer.span(f"functions.{name}"):
            build().write.mode("overwrite").parquet(self._out(name))
        return self.spark.read.parquet(self._out(name))

    def write(self, i: int):
        docs = self.spark.read.parquet(self.input)
        kept = self._materialise("corpus_filter", lambda: curation.corpus_filter(
            docs, passthrough=("text", "embedding"),
        ).filter("keep").select("doc_id", "text", "embedding"))
        unique = self._materialise("exact_dedup", lambda: kept.join(
            dedup.exact_dedup(kept).select("doc_id"), "doc_id", "left_semi"))
        pairs = self._materialise("minhash_near_duplicates", lambda: dedup.minhash_near_duplicates(
            unique, threshold=self.THRESHOLD))
        self._materialise("dedup_clusters", lambda: dedup.dedup_clusters(unique, pairs).filter(
            "cluster_id = doc_id").select("doc_id", "embedding"))
        return None

    def read(self, i: int):
        corpus = self.spark.read.parquet(self._out("dedup_clusters"))
        queries = corpus.join(self.queries, "doc_id", "left_semi")
        with self.tracer.span("functions.cosine_topk_matmul"):
            top = similarity.cosine_topk_matmul(
                queries, corpus, k=self.K, query_id="doc_id", corpus_id="doc_id"
            ).collect()
        return top

    def _ids(self, stage: str) -> set[int]:
        return {r[0] for r in self.spark.read.parquet(self._out(stage)).select("doc_id").collect()}

    def verify(self, i: int, written, read) -> list[str]:
        errors = []
        kept, unique = self._ids("corpus_filter"), self._ids("exact_dedup")
        reps = self._ids("dedup_clusters")
        if kept != self.kept_filter:
            errors.append(f"corpus_filter kept {len(kept)} docs, want {len(self.kept_filter)}")
        if unique != self.kept_exact:
            errors.append(f"exact_dedup kept {len(unique)} docs, want {len(self.kept_exact)}")
        pair_rows = self.spark.read.parquet(self._out("minhash_near_duplicates")).collect()
        pairs = [(r[0], r[1]) for r in pair_rows]
        for a, b in pairs:
            sa, sb = _shingles(self.tokens[a]), _shingles(self.tokens[b])
            if len(sa & sb) / len(sa | sb) < self.THRESHOLD:
                errors.append(f"pair ({a}, {b}) below the Jaccard threshold")
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        self.recall = len(found & self.planted_pairs) / len(self.planted_pairs)
        self.pairs = len(pairs)
        parent = {}

        def root(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in found:
            ra, rb = root(a), root(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want_reps = {d for d in unique if root(d) == d}
        if reps != want_reps:
            errors.append(f"dedup_clusters kept {len(reps)} docs, want {len(want_reps)}")
        top = {}
        for r in read:
            top.setdefault(r["q_id"], set()).add(r["n_id"])
        missing = sum(1 for a, b in self.twins if b not in top.get(a, ()))
        if missing:
            errors.append(f"{missing} embedding twins missing from their partner's top-{self.K}")
        return errors

    def storage(self, i: int) -> dict[str, float]:
        return {}

    def candidate_pairs(self) -> int:
        unique = self.spark.read.parquet(self._out("exact_dedup"))
        sigs = dedup.minhash_signatures(unique, "text", "doc_id", num_hashes=16, shingle_size=3)
        return dedup.lsh_candidate_pairs(sigs, rows_per_band=4).count()

    def end_state(self) -> dict[str, float]:
        return {
            "functions.pair_yield": self.pairs / max(1, self.candidate_pairs()),
            "functions.near_dup_recall": self.recall,
        }
