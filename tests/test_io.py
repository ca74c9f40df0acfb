from __future__ import annotations

import threading

import pytest

from dc43_spark.contracts import Contract, QualityRule, SchemaObject, SchemaProperty
from dc43_spark.contracts.model import Server
from dc43_spark.io import (
    FlagWriteViolationStrategy,
    SplitWriteViolationStrategy,
    StrictWriteViolationStrategy,
    read_with_contract,
    write_with_contract,
)
from dc43_spark.io import write as write_mod
from dc43_spark.io.read import ContractStatusError, ValidationBlockedError
from dc43_spark.io.status import GovernanceInterceptor


def orders_contract(**kw) -> Contract:
    return Contract(
        id="test.orders",
        version="0.1.0",
        status=kw.get("status", "active"),
        servers=kw.get("servers", []),
        schema_objects=[
            SchemaObject(
                name="orders",
                properties=[
                    SchemaProperty("order_id", "bigint", required=True),
                    SchemaProperty("customer_id", "bigint", required=True),
                    SchemaProperty(
                        "amount", "double", required=True, quality=[QualityRule("gt", 0.0)]
                    ),
                    SchemaProperty(
                        "currency", "string", required=True,
                        quality=[QualityRule("enum", ["EUR", "USD"])],
                    ),
                ],
            )
        ],
    )


GOOD = [(1, 101, 10.0, "EUR"), (2, 102, 20.5, "USD")]
MIXED = GOOD + [(3, 103, -5.0, "GBP")]
SCHEMA = "order_id long, customer_id long, amount double, currency string"


@pytest.fixture()
def good_df(spark):
    return spark.createDataFrame(GOOD, SCHEMA)


@pytest.fixture()
def mixed_df(spark):
    return spark.createDataFrame(MIXED, SCHEMA)


def test_write_then_read_roundtrip(spark, good_df, tmp_path):
    target = str(tmp_path / "orders")
    res = write_with_contract(good_df, orders_contract(), path=target, mode="overwrite")
    assert res.validation.ok
    assert res.written == [f"path:{target}"]
    df, vres = read_with_contract(spark, orders_contract(), path=target)
    assert vres.ok and vres.status == "ok"
    assert df.columns == ["order_id", "customer_id", "amount", "currency"]
    assert df.count() == 2


def test_write_blocks_on_violations(mixed_df, tmp_path):
    with pytest.raises(ValidationBlockedError) as ei:
        write_with_contract(mixed_df, orders_contract(), path=str(tmp_path / "o"), mode="overwrite")
    assert "gt_amount" in str(ei.value)
    assert not (tmp_path / "o").exists()  # nothing written before the gate


def test_write_unenforced_warns_and_writes(spark, mixed_df, tmp_path):
    target = str(tmp_path / "o")
    res = write_with_contract(
        mixed_df, orders_contract(), path=target, mode="overwrite", enforce=False
    )
    assert res.validation.status == "block" and res.written
    assert spark.read.parquet(target).count() == 3


def test_read_warns_on_violations_but_returns(spark, mixed_df, tmp_path):
    target = str(tmp_path / "o")
    mixed_df.write.mode("overwrite").parquet(target)
    df, res = read_with_contract(spark, orders_contract(), path=target)
    assert res.status == "warn" and res.ok  # violations only warn on read
    assert df.count() == 3


def test_read_blocks_on_missing_required_column(spark, good_df, tmp_path):
    target = str(tmp_path / "o")
    good_df.drop("currency").write.mode("overwrite").parquet(target)
    with pytest.raises(ValidationBlockedError):
        read_with_contract(spark, orders_contract(), path=target)


def test_contract_status_gate(good_df, tmp_path):
    with pytest.raises(ContractStatusError):
        write_with_contract(
            good_df, orders_contract(status="deprecated"), path=str(tmp_path / "o")
        )


def test_server_location_from_contract(spark, good_df, tmp_path):
    target = str(tmp_path / "srv")
    c = orders_contract(servers=[Server(path=target, format="parquet")])
    write_with_contract(good_df, c, mode="overwrite")
    df, res = read_with_contract(spark, c)
    assert df.count() == 2 and res.ok


def test_split_strategy_writes_valid_and_reject(spark, mixed_df, tmp_path):
    target = str(tmp_path / "orders")
    res = write_with_contract(
        mixed_df,
        orders_contract(),
        path=target,
        mode="overwrite",
        strategy=SplitWriteViolationStrategy(),
        enforce=False,
    )
    assert res.written == [f"path:{target}/valid::valid", f"path:{target}/reject::reject"]
    valid = spark.read.parquet(f"{target}/valid")
    reject = spark.read.parquet(f"{target}/reject")
    assert valid.count() == 2 and reject.count() == 1
    assert reject.collect()[0]["currency"] == "GBP"


def test_split_strategy_clean_data_single_write(spark, good_df, tmp_path):
    target = str(tmp_path / "orders")
    res = write_with_contract(
        good_df, orders_contract(), path=target, mode="overwrite",
        strategy=SplitWriteViolationStrategy(), enforce=False,
    )
    assert res.written == [f"path:{target}"]


def test_split_writes_overlap(spark, mixed_df, tmp_path, monkeypatch):
    """Split's valid and reject saves run at once: each waits at a
    two-party barrier before it writes, which only opens while both are
    in flight."""
    real = write_mod.execute_write_request
    barrier = threading.Barrier(2, timeout=30)

    def meet_then_write(req, writer_modifier=None):
        barrier.wait()
        real(req, writer_modifier)

    monkeypatch.setattr(write_mod, "execute_write_request", meet_then_write)
    target = str(tmp_path / "orders")
    res = write_with_contract(
        mixed_df, orders_contract(), path=target, mode="overwrite",
        strategy=SplitWriteViolationStrategy(), enforce=False,
    )
    assert res.written == [f"path:{target}/valid::valid", f"path:{target}/reject::reject"]
    assert spark.read.parquet(f"{target}/valid").count() == 2
    assert spark.read.parquet(f"{target}/reject").count() == 1


def test_split_write_primary_lands_before_nested_sides(
    spark, mixed_df, tmp_path, monkeypatch
):
    """``write_primary`` overwrites ``<p>`` while the sides land under
    it, so the primary write finishes before either side starts, and a
    second overwrite leaves each target holding its own rows."""
    real = write_mod.execute_write_request
    events: list[tuple[str, str]] = []
    lock = threading.Lock()

    def recorded(req, writer_modifier=None):
        with lock:
            events.append(("start", req.path))
        real(req, writer_modifier)
        with lock:
            events.append(("end", req.path))

    monkeypatch.setattr(write_mod, "execute_write_request", recorded)
    target = str(tmp_path / "orders")
    for _ in range(2):
        events.clear()
        res = write_with_contract(
            mixed_df, orders_contract(), path=target, mode="overwrite",
            strategy=SplitWriteViolationStrategy(write_primary=True), enforce=False,
        )
        assert res.written == [
            f"path:{target}", f"path:{target}/valid::valid", f"path:{target}/reject::reject",
        ]
        assert events[:2] == [("start", target), ("end", target)]
        assert len(events) == 6
        assert spark.read.parquet(f"{target}/*.parquet").count() == 3
        assert spark.read.parquet(f"{target}/valid").count() == 2
        assert spark.read.parquet(f"{target}/reject").count() == 1


def test_split_write_failing_side_drains_then_raises(
    spark, mixed_df, tmp_path, monkeypatch
):
    """A failing reject save re-raises only after the valid save it
    overlaps has finished; no ``post_write`` hook runs and no cached
    relation is left behind."""
    real = write_mod.execute_write_request
    barrier = threading.Barrier(2, timeout=30)
    finished: list[str] = []

    def reject_fails(req, writer_modifier=None):
        barrier.wait()
        if req.dataset_suffix == "::reject":
            raise RuntimeError("reject side down")
        real(req, writer_modifier)
        finished.append(req.dataset_suffix)

    class PostWriteRecorder(GovernanceInterceptor):
        def __init__(self):
            self.post_writes = []

        def post_write(self, ctx, result):
            self.post_writes.append(result)

    monkeypatch.setattr(write_mod, "execute_write_request", reject_fails)
    hook = PostWriteRecorder()
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    target = str(tmp_path / "orders")
    with pytest.raises(RuntimeError, match="reject side down"):
        write_with_contract(
            mixed_df, orders_contract(), path=target, mode="overwrite",
            strategy=SplitWriteViolationStrategy(), enforce=False,
            interceptors=[hook],
        )
    assert finished == ["::valid"]
    assert spark.read.parquet(f"{target}/valid").count() == 2
    assert hook.post_writes == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == baseline


def test_flag_strategy_appends_corrupted_data(spark, mixed_df, tmp_path):
    target = str(tmp_path / "orders")
    write_with_contract(
        mixed_df, orders_contract(), path=target, mode="overwrite",
        strategy=FlagWriteViolationStrategy(), enforce=False,
    )
    out = spark.read.parquet(target)
    assert "_corrupted_data" in out.columns
    rows = {r["order_id"]: r["_corrupted_data"] for r in out.collect()}
    assert rows[1] is None and rows[2] is None
    assert sorted(rows[3]) == ["enum_currency", "gt_amount"]


def test_strict_strategy_fails_even_unenforced(mixed_df, tmp_path):
    # strict forces failure even when executor-level enforcement is off
    with pytest.raises(ValidationBlockedError, match="strict"):
        write_with_contract(
            mixed_df, orders_contract(), path=str(tmp_path / "o"), mode="overwrite",
            strategy=StrictWriteViolationStrategy(), enforce=False,
        )
    assert not (tmp_path / "o").exists()


def test_table_write_and_read(spark, good_df):
    res = write_with_contract(
        good_df, orders_contract(), table="orders_gov_t1", format="parquet", mode="overwrite"
    )
    assert res.written == ["table:orders_gov_t1"]
    df, vres = read_with_contract(spark, orders_contract(), table="orders_gov_t1")
    assert df.count() == 2 and vres.ok
    spark.sql("DROP TABLE IF EXISTS orders_gov_t1")


def test_port_bound_read_write_roundtrip(spark, good_df, tmp_path):
    """Governed IO through data-product ports (r5 verdict item 2): the
    producer writes via its OUTPUT port binding; the consumer reads via
    an INPUT port that only names the producer — resolution follows the
    producer's output-port contract (ref local.py:1279-1366)."""
    from dc43_spark.contracts.model import Server
    from dc43_spark.contracts.store import MemoryContractStore
    from dc43_spark.products import DataProduct, Port, ProductRegistry

    target = str(tmp_path / "orders")
    cs = MemoryContractStore()
    cs.put(orders_contract(servers=[Server(path=target, format="parquet")]))
    reg = ProductRegistry(cs)
    reg.register(
        DataProduct(
            id="sales.producer",
            output_ports=[Port(name="gold", contract_id="test.orders")],
        )
    )
    reg.register(
        DataProduct(
            id="ml.consumer",
            input_ports=[
                Port(name="orders_in", source_product="sales.producer", source_port="gold")
            ],
        )
    )
    wres = write_with_contract(
        good_df, product="sales.producer", port="gold", registry=reg, mode="overwrite"
    )
    assert wres.validation.ok
    df, rres = read_with_contract(
        spark, product="ml.consumer", port="orders_in", registry=reg
    )
    assert rres.ok and df.count() == 2
    assert set(df.columns) == {"order_id", "customer_id", "amount", "currency"}


def test_port_bound_io_guards(spark, good_df, tmp_path):
    from dc43_spark.contracts.model import Server
    from dc43_spark.contracts.store import MemoryContractStore
    from dc43_spark.products import DataProduct, Port, ProductRegistry

    cs = MemoryContractStore()
    cs.put(orders_contract(servers=[Server(path=str(tmp_path / "o"), format="parquet")]))
    reg = ProductRegistry(cs)
    reg.register(
        DataProduct(
            id="p", output_ports=[Port(name="out", contract_id="test.orders")]
        )
    )
    # both contract and product/port is ambiguous
    with pytest.raises(ValueError, match="not both"):
        read_with_contract(spark, orders_contract(), product="p", port="out", registry=reg)
    # product/port without a registry cannot resolve
    with pytest.raises(ValueError, match="registry"):
        write_with_contract(good_df, product="p", port="out")
    # a version pin on the consumer's input port is enforced
    reg.register(
        DataProduct(
            id="c",
            input_ports=[
                Port(
                    name="in",
                    source_product="p",
                    source_port="out",
                    source_contract_version="==9.9.9",
                )
            ],
        )
    )
    with pytest.raises(ValueError, match="pins contract version"):
        read_with_contract(spark, product="c", port="in", registry=reg)
    # an input port with neither binding nor source is rejected at register
    with pytest.raises(LookupError, match="neither"):
        reg.register(DataProduct(id="bad", input_ports=[Port(name="in")]))


def test_governed_io_csv_and_json_formats(spark, good_df, tmp_path):
    """The governed IO layer is format-agnostic: the same contract
    validates/aligns CSV and JSON targets; CSV's all-string scan comes
    back to contract types through apply_contract's auto_cast."""
    for fmt, options in (
        ("csv", {"header": "true"}),
        ("json", {}),
    ):
        target = str(tmp_path / f"orders_{fmt}")
        res = write_with_contract(
            good_df, orders_contract(), path=target, format=fmt,
            options=options, mode="overwrite",
        )
        assert res.validation.ok
        df, rres = read_with_contract(
            spark, orders_contract(), path=target, format=fmt, options=options,
        )
        assert rres.ok, (fmt, rres.errors, rres.warnings)
        assert df.schema.simpleString() == (
            "struct<order_id:bigint,customer_id:bigint,amount:double,currency:string>"
        )
        assert sorted((r.order_id, r.amount) for r in df.collect()) == [
            (1, 10.0), (2, 20.5)
        ]
