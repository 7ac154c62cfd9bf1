"""Cross-format DIFFERENTIAL testing: one seeded random sequence of
table operations applied to planktable, Delta, Iceberg AND (since
round 12) the Hudi COW writer must leave IDENTICAL logical contents
after every step — the four implementations check each other, so a
semantics bug in any one format's op (a delete dropping
NULL-predicate rows, a merge resurrecting data, a restore losing a
commit, a Hudi slice resolution or replacecommit replay error) shows
up as a content divergence even where a single-format unit test
would have encoded the same wrong expectation."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import DeltaLogWriter, read_delta
from plankton_spark.sources.iceberg_meta import IcebergWriter, read_iceberg
from plankton_spark.table_format import PlankTable


def _batch(spark, seed, lo, n):
    rng = random.Random(seed)
    rows = [
        (lo + i, rng.randrange(0, 5), round(rng.uniform(-50, 50), 2))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "k long, grp long, v double")


def _content(df):
    return sorted(
        (r["k"], r["grp"], r["v"]) for r in df.select("k", "grp", "v").collect()
    )


@pytest.mark.parametrize("seed", [7, 23])
def test_same_op_sequence_same_contents(spark, tmp_path, seed):
    """FOUR-way since round 12: the Hudi COW writer runs the same
    seeded sequence alongside planktable/Delta/Iceberg (ops mapped to
    Hudi's key-based surface — predicate delete becomes
    delete-by-matching-keys, replace_where becomes delete+insert,
    optimize becomes cluster(), the replacecommit layout rewrite)."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    rng = random.Random(seed)
    pt = PlankTable(spark, str(tmp_path / "pt"))
    dw = DeltaLogWriter(spark, str(tmp_path / "dl"))
    iw = IcebergWriter(spark, str(tmp_path / "ib"))
    hw = HudiWriter(spark, str(tmp_path / "hd"), record_key="k")

    first = _batch(spark, seed, 0, 40).coalesce(1)
    pt.create(first)
    dw.create(first)
    iw.create(first)
    hw.create(first)
    readers = [
        lambda: pt.read(),
        lambda: read_delta(spark, str(tmp_path / "dl")),
        lambda: read_iceberg(spark, str(tmp_path / "ib")),
        lambda: read_hudi(spark, str(tmp_path / "hd")),
    ]
    next_k = 1000

    def check(step):
        a, b, c, d = (_content(r()) for r in readers)
        assert a == b == c == d, f"divergence after step {step}: seed={seed}"

    check("create")
    for step in range(10):
        op = rng.choice(["append", "delete", "merge", "replace", "optimize"])
        if op == "append":
            df = _batch(spark, seed * 100 + step, next_k, rng.randrange(5, 20))
            next_k += 1000
            df = df.coalesce(1)
            pt.append(df)
            dw.append(df)
            iw.append(df)
            hw.insert(df)
        elif op == "delete":
            g = rng.randrange(0, 5)
            cond = F.col("grp") == g
            keys = read_hudi(spark, str(tmp_path / "hd")).where(cond).select("k")
            pt.delete_where(cond)
            dw.delete_where(cond)
            iw.delete_where(cond)
            hw.delete_keys(keys)
        elif op == "merge":
            df = _batch(spark, seed * 200 + step, next_k - 1000, 8)
            pt.merge(df, "k")
            dw.merge(df, "k")
            iw.merge(df, "k")
            hw.upsert(df)
        elif op == "replace":
            g = rng.randrange(0, 5)
            repl = _batch(
                spark, seed * 300 + step, next_k, rng.randrange(3, 9)
            ).withColumn("grp", F.lit(g).cast("long"))
            next_k += 1000
            cond = F.col("grp") == g
            keys = read_hudi(spark, str(tmp_path / "hd")).where(cond).select("k")
            pt.replace_where(repl, cond)
            dw.replace_where(repl, cond)
            iw.replace_where(repl, cond)
            hw.delete_keys(keys)
            hw.insert(repl.coalesce(1))
        else:
            n = rng.choice([1, 2])
            pt.optimize(num_files=n)
            dw.optimize(num_files=n)
            iw.optimize(num_files=n)
            hw.group_buckets = n
            hw.cluster()
        check(f"{step}:{op}")


def test_iceberg_origin_converts_then_tracks_identically(spark, tmp_path):
    """The REVERSE migration arrows (round-10 verdict #3) under the
    differential harness: the SAME Iceberg-authored content is
    converted in place to Delta in one dir and to planktable in
    another (zero rewrite), a third stays pure Iceberg — then one op
    sequence runs through each format's OWN writer and the logical
    contents must stay three-way identical after every step. A
    conversion that mis-inventories a live file, mistypes a stat, or
    breaks the target log's invariants diverges immediately."""
    roots = {f: str(tmp_path / f) for f in ("dl", "pt", "ib")}
    for root in roots.values():
        iw0 = IcebergWriter(spark, root)
        iw0.create(_batch(spark, 51, 0, 40).coalesce(1))
        iw0.append(_batch(spark, 52, 100, 12).coalesce(1))
    from plankton_spark import table_format
    from plankton_spark.sources import delta_log, iceberg_meta

    delta_log.author(spark, roots["dl"], iceberg_meta.inventory)
    table_format.author(spark, roots["pt"], iceberg_meta.inventory)
    dw = DeltaLogWriter(spark, roots["dl"])
    pt = PlankTable(spark, roots["pt"])
    iw = IcebergWriter(spark, roots["ib"])
    readers = [
        lambda: read_delta(spark, roots["dl"]),
        lambda: pt.read(),
        lambda: read_iceberg(spark, roots["ib"]),
    ]

    def check(step):
        a, b, c = (_content(r()) for r in readers)
        assert a == b == c, f"divergence after step {step}"

    check("convert")
    df = _batch(spark, 53, 2000, 9).coalesce(1)
    dw.append(df)
    pt.append(df)
    iw.append(df)
    check("append")
    cond = F.col("grp") == 3
    dw.delete_where(cond)
    pt.delete_where(cond)
    iw.delete_where(cond)
    check("delete")
    up = _batch(spark, 54, 2000, 6)
    dw.merge(up, "k")
    pt.merge(up, "k")
    iw.merge(up, "k")
    check("merge")
    dw.optimize(num_files=1)
    pt.optimize(num_files=1)
    iw.optimize(num_files=1)
    check("optimize")


def test_restore_diverges_identically(spark, tmp_path):
    """RESTORE equivalence: after the same op sequence, restoring each
    format to the same logical point (planktable/Delta version v ==
    Iceberg snapshot v+1 — snapshots are 1-based) must yield identical
    contents, and history must stay readable on all three."""
    pt = PlankTable(spark, str(tmp_path / "pt"))
    dw = DeltaLogWriter(spark, str(tmp_path / "dl"))
    iw = IcebergWriter(spark, str(tmp_path / "ib"))
    first = _batch(spark, 99, 0, 30).coalesce(1)
    pt.create(first)
    dw.create(first)
    iw.create(first)
    for i in range(1, 4):
        df = _batch(spark, 99 + i, i * 1000, 10).coalesce(1)
        pt.append(df)
        dw.append(df)
        iw.append(df)
    pt.delete_where(F.col("grp") == 2)        # v4
    dw.delete_where(F.col("grp") == 2)
    iw.delete_where(F.col("grp") == 2)
    for v in (2, 4, 1):                        # back, tip-ward, back again
        pt.restore(v)
        dw.restore(v)
        iw.rollback_to(v + 1)
        a = _content(pt.read())
        b = _content(read_delta(spark, str(tmp_path / "dl")))
        c = _content(read_iceberg(spark, str(tmp_path / "ib")))
        assert a == b == c, f"divergence after restore to {v}"
        # the pre-restore tip still time-travels everywhere
        t_a = _content(pt.read(version=4))
        t_b = _content(read_delta(spark, str(tmp_path / "dl"), version=4))
        t_c = _content(read_iceberg(spark, str(tmp_path / "ib"), snapshot_id=5))
        assert t_a == t_b == t_c


def test_conversion_delay_median_odd_and_even(spark):
    """The exact-median contract for BOTH parities (the fixture only
    exercises even counts — review finding: the odd branch was
    silently halved in engine AND oracle, invisible to parity
    testing)."""
    from pyspark.sql import functions as F

    from plankton_spark.operators.ranking import global_row_number

    def median2x(values):
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(values)], "delay_s long, event_id long"
        )
        ranked = global_row_number(
            df, ["delay_s", "event_id"], "rn", total_out="n"
        )
        mid_lo = F.floor((F.col("n") + 1) / 2)
        mid_hi = F.floor((F.col("n") + 2) / 2)
        weight = (F.col("rn") == mid_lo).cast("int") + (
            F.col("rn") == mid_hi
        ).cast("int")
        return ranked.agg(
            F.sum(F.col("delay_s") * weight).cast("long")
        ).first()[0]

    assert median2x([10, 30, 20]) == 40          # odd: 2 x middle
    assert median2x([10, 20, 30, 40]) == 50      # even: sum of middles
    assert median2x([7]) == 14                   # n=1
    assert median2x([5, 5, 5]) == 10             # ties


@pytest.mark.parametrize("seed", [11])
def test_hudi_tracks_delta_contents(spark, tmp_path, seed):
    """The Hudi arm under the differential harness: the SAME logical
    op sequence runs through the Delta writer and the Hudi COW writer
    (ops mapped to Hudi's key-based surface — delete-by-predicate
    becomes delete-by-matching-keys, replace_where becomes
    delete+insert, optimize becomes clean) and the contents must stay
    two-way identical after every step; a wrong slice resolution, a
    copy-forward bug, or an upsert routing error diverges
    immediately."""
    from plankton_spark.sources.hudi_meta import HudiWriter, clean, read_hudi

    rng = random.Random(seed)
    dw = DeltaLogWriter(spark, str(tmp_path / "dl"))
    hw = HudiWriter(spark, str(tmp_path / "hd"), record_key="k")
    first = _batch(spark, seed, 0, 40).coalesce(1)
    dw.create(first)
    hw.create(first)
    next_k = 1000

    def check(step):
        a = _content(read_delta(spark, str(tmp_path / "dl")))
        b = _content(read_hudi(spark, str(tmp_path / "hd")))
        assert a == b, f"divergence after step {step}: seed={seed}"

    check("create")
    for step in range(8):
        op = rng.choice(["append", "delete", "merge", "replace", "clean"])
        if op == "append":
            df = _batch(spark, seed * 100 + step, next_k, rng.randrange(5, 20))
            next_k += 1000
            dw.append(df.coalesce(1))
            hw.insert(df)
        elif op == "delete":
            g = rng.randrange(0, 5)
            cond = F.col("grp") == g
            keys = read_hudi(spark, str(tmp_path / "hd")).where(cond).select("k")
            dw.delete_where(cond)
            hw.delete_keys(keys)
        elif op == "merge":
            df = _batch(spark, seed * 200 + step, next_k - 1000, 8)
            dw.merge(df, "k")
            hw.upsert(df)
        elif op == "replace":
            g = rng.randrange(0, 5)
            repl = _batch(
                spark, seed * 300 + step, next_k, rng.randrange(3, 9)
            ).withColumn("grp", F.lit(g).cast("long"))
            next_k += 1000
            cond = F.col("grp") == g
            keys = read_hudi(spark, str(tmp_path / "hd")).where(cond).select("k")
            dw.replace_where(repl, cond)
            hw.delete_keys(keys)
            hw.insert(repl)
        else:
            dw.optimize(num_files=1)
            clean(str(tmp_path / "hd"), keep_last_slices=1)
        check(f"{step}:{op}")


@pytest.mark.parametrize("seed", [11, 31])
def test_virtual_mor_tracks_delta_contents(spark, tmp_path, seed):
    """Round-13 continuation: the VIRTUAL-KEY MERGE_ON_READ writer
    under the differential harness — the same seeded logical op
    sequence runs through the Delta writer and a
    populate.meta.fields=false MOR Hudi writer (append → insert,
    predicate delete → DELETE_BLOCK keys, merge → log upsert,
    replace_where → delete+insert, optimize → compact), and contents
    must stay two-way identical after EVERY step. This drives the
    meta-less log codec, the declared-key merge window, the broadcast
    slice-instant attribution, and compaction routing under random
    interleavings no single-purpose unit test enumerates."""
    from plankton_spark.sources.hudi_meta import HudiWriter, read_hudi

    rng = random.Random(seed)
    dw = DeltaLogWriter(spark, str(tmp_path / "dl"))
    hw = HudiWriter(
        spark,
        str(tmp_path / "hd"),
        record_key="k",
        table_type="MERGE_ON_READ",
        group_buckets=2,
        populate_meta_fields=False,
    )
    first = _batch(spark, seed, 0, 40).coalesce(1)
    dw.create(first)
    hw.create(first)
    next_k = 1000

    def check(step):
        a = _content(read_delta(spark, str(tmp_path / "dl")))
        b = _content(read_hudi(spark, str(tmp_path / "hd")))
        assert a == b, f"divergence after step {step}: seed={seed}"

    check("create")
    for step in range(8):
        op = rng.choice(["append", "delete", "merge", "replace", "compact"])
        if op == "append":
            df = _batch(spark, seed * 100 + step, next_k, rng.randrange(5, 20))
            next_k += 1000
            dw.append(df.coalesce(1))
            hw.insert(df)
        elif op == "delete":
            g = rng.randrange(0, 5)
            cond = F.col("grp") == g
            keys = read_hudi(spark, str(tmp_path / "hd")).where(cond).select("k")
            dw.delete_where(cond)
            hw.delete_keys(keys)
        elif op == "merge":
            df = _batch(spark, seed * 200 + step, next_k - 1000, 8)
            dw.merge(df, "k")
            hw.upsert(df)
        elif op == "replace":
            g = rng.randrange(0, 5)
            repl = _batch(
                spark, seed * 300 + step, next_k, rng.randrange(3, 9)
            ).withColumn("grp", F.lit(g).cast("long"))
            next_k += 1000
            cond = F.col("grp") == g
            keys = read_hudi(spark, str(tmp_path / "hd")).where(cond).select("k")
            dw.replace_where(repl, cond)
            hw.delete_keys(keys)
            hw.insert(repl.coalesce(1))
        else:
            dw.optimize(num_files=1)
            hw.compact()
        check(f"{step}:{op}")
