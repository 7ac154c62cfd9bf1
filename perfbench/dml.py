"""The four table formats behind one verb surface, for ``dml_mixed``.

PlankTable, Delta and Iceberg take the verbs directly. Hudi COW takes
them through its key-based surface, as the cross-format differential
test maps them: a predicate delete deletes the matching keys, an
update upserts the matching rows with new values, a merge is an
upsert and optimize is ``cluster()``.
"""

from __future__ import annotations

import os
import random
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plankton_spark.sources.delta_log import DeltaLog, DeltaLogWriter, read_delta
from plankton_spark.sources.hudi_meta import HudiTable, HudiWriter, read_hudi
from plankton_spark.sources.iceberg_meta import IcebergTable, IcebergWriter, read_iceberg
from plankton_spark.table_format import PlankTable

FORMATS = ("planktable", "delta", "iceberg", "hudi")
WARM_VERBS = ("delete", "update", "merge", "optimize")
SCHEMA = "k long, grp long, v double"
GROUPS = 50


def batch(spark, rng: random.Random, keys: list[int]):
    """Seeded rows for ``keys``, as (pandas rows, DataFrame)."""
    rows = pd.DataFrame(
        {
            "k": keys,
            "grp": [rng.randrange(GROUPS) for _ in keys],
            "v": [round(rng.uniform(-50, 50), 2) for _ in keys],
        }
    )
    return rows, spark.createDataFrame(rows, SCHEMA)


class Tables:
    """Writers and readers for one table per format under ``root``."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.paths = {f: os.path.join(root, f) for f in FORMATS}
        self.writers = {
            "planktable": PlankTable(spark, self.paths["planktable"]),
            "delta": DeltaLogWriter(spark, self.paths["delta"]),
            "iceberg": IcebergWriter(spark, self.paths["iceberg"]),
            "hudi": HudiWriter(spark, self.paths["hudi"], record_key="k"),
        }

    def read(self, fmt: str):
        path = self.paths[fmt]
        if fmt == "planktable":
            df = self.writers[fmt].read()
        elif fmt == "delta":
            df = read_delta(self.spark, path)
        elif fmt == "iceberg":
            df = read_iceberg(self.spark, path)
        else:
            df = read_hudi(self.spark, path)
        return df.select("k", "grp", "v")

    def replay(self, fmt: str) -> int:
        """Replay the format's metadata to its live data files; returns
        their count."""
        path = self.paths[fmt]
        if fmt == "planktable":
            return len(self.writers[fmt].files())
        if fmt == "delta":
            return len(DeltaLog(path).snapshot()[2])
        if fmt == "iceberg":
            return len(IcebergTable(path).data_files())
        return len(HudiTable(path).file_slices())

    def create(self, fmt: str, df) -> None:
        self.writers[fmt].create(df)

    def commit(self, fmt: str, verb: str, arg) -> None:
        w = self.writers[fmt]
        hudi = fmt == "hudi"
        if verb == "append":
            w.insert(arg) if hudi else w.append(arg)
        elif verb == "merge":
            w.upsert(arg) if hudi else w.merge(arg, "k")
        elif verb == "delete":
            cond = F.col("grp") == arg
            if hudi:
                w.delete_keys(self.read(fmt).where(cond).select("k"))
            else:
                w.delete_where(cond)
        elif verb == "update":
            group, delta = arg
            cond = F.col("grp") == group
            new_v = F.col("v") + F.lit(delta)
            if hudi:
                w.upsert(self.read(fmt).where(cond).select("k", "grp", new_v.alias("v")))
            else:
                w.update_where({"v": new_v}, cond)
        elif verb == "optimize":
            if hudi:
                w.group_buckets = arg
                w.cluster()
            else:
                w.optimize(num_files=arg)
        else:
            raise ValueError(f"unknown verb {verb!r}")

    def digests(self) -> dict[str, tuple]:
        """(rows, sum of keys, sum of row hashes) per format, in one
        Spark job: equal digests mean equal contents up to a 64-bit
        hash collision."""
        h = F.xxhash64("k", "grp", "v").cast("decimal(38,0)")
        tagged = [self.read(fmt).withColumn("fmt", F.lit(fmt)) for fmt in FORMATS]
        rows = reduce(DataFrame.unionByName, tagged).groupBy("fmt").agg(
            F.count("*"), F.sum("k"), F.sum(h)
        )
        got = {r[0]: tuple(r[1:]) for r in rows.collect()}
        return {fmt: got.get(fmt, (0, None, None)) for fmt in FORMATS}


class Sequence:
    """Seeded inputs of each verb, and the key set they leave behind,
    so every content check also knows the expected row count and key
    sum independently of the four formats."""

    def __init__(self, rng: random.Random, base):
        self.rng = rng
        self.groups: dict[int, set[int]] = {g: set() for g in range(GROUPS)}
        for k, g in base:
            self.groups[g].add(k)
        self.next_key = 10_000_000

    def arg(self, spark, verb: str):
        """(argument for Tables.commit, pandas rows it writes or None)."""
        if verb == "append":
            rows, df = batch(spark, self.rng, self._new_keys(500))
            return df.coalesce(1), rows
        if verb == "merge":
            live = sorted(k for ks in self.groups.values() for k in ks)
            rows, df = batch(spark, self.rng, self.rng.sample(live, 150) + self._new_keys(150))
            return df, rows
        if verb == "delete":
            return self.rng.randrange(GROUPS), None
        if verb == "update":
            return (self.rng.randrange(GROUPS), self.rng.choice([0.25, 1.5, -2.75])), None
        return 2, None

    def apply(self, verb: str, arg, rows) -> None:
        if verb == "delete":
            self.groups[arg].clear()
        elif rows is not None:
            keys = [int(k) for k in rows["k"]]
            for ks in self.groups.values():
                ks.difference_update(keys)
            for k, g in zip(keys, rows["grp"]):
                self.groups[int(g)].add(k)

    def expected(self) -> tuple[int, int]:
        return sum(map(len, self.groups.values())), sum(map(sum, self.groups.values()))

    def _new_keys(self, n: int) -> list[int]:
        self.next_key += n
        return list(range(self.next_key - n, self.next_key))
