"""Merge-on-read row positions, shared by the table formats.

Delta deletion vectors and Iceberg position deletes (v2 parquet files
and v3 deletion vectors) delete rows without rewriting data files:
they mark (data file, row index) positions, and every read subtracts
them. Delta row tracking and Iceberg row lineage key on the same pair:
a row's id is its file's base id plus its position. The pieces of that
algorithm that do not depend on a format's metadata live here, as
plain functions over frames. Each format keeps its own bitmap encoding
and its own commit.

A position is the column pair `POS`: `__pd_file`, the data file's
basename, and `__pd_ridx`, the parquet reader's row index. The scan
side only knows the URI-encoded `_metadata.file_path` while table
metadata records raw paths, so a key that holds a directory stops
matching once a path needs encoding. A basename does not, as long as
it is URI-safe and unique (`basenames`).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import functions as F

from plankton_spark.sources import rewrite as rw
from plankton_spark.sources.assemble import local_frame

POS = ["__pd_file", "__pd_ridx"]

# A deleted-position set of at most this many rows is broadcast to the
# anti-join (~16 B a pair, so about 32 MB). A larger one, or one whose
# size is unknown, shuffles both sides. The rule counts rows, not
# bytes: a roaring bitmap of a few hundred bytes can expand to 10^8
# pairs. Table metadata records the cardinalities, so the choice costs
# nothing.
BROADCAST_MAX_ROWS = 2_000_000

# decoded positions per Arrow batch: a worst-case vector (10^8
# deletions in one file) never sits in one batch
_CHUNK = 1 << 20

_SAFE_NAME = re.compile(r"[A-Za-z0-9._-]+\Z")


def basename(col):
    """The last segment of a path or URI column."""
    return F.substring_index(col, "/", -1)


def basenames(paths, refuse) -> dict[str, str]:
    """basename → path for the data files a position join touches.
    Real writers name files uuid-style ([A-Za-z0-9._-]), and such
    names URI-encode to themselves. Any other name, or a duplicate,
    raises `refuse(name)` instead of silently mis-joining."""
    out: dict[str, str] = {}
    for p in paths:
        b = os.path.basename(p)
        if b in out or not _SAFE_NAME.fullmatch(b):
            raise refuse(b)
        out[b] = p
    return out


def vectors(spark, rows, decode):
    """The positions deletion vectors mark, as a `live` delete: the
    frame of `POS` rows and the vectors' cardinalities. `rows` is
    [(data file basename, label, args, cardinality)]. `decode(*args)`
    returns a vector's row indexes; it runs on executors (mapInPandas
    over one row per vector), so the driver never holds a vector. A
    known cardinality (not None, >= 0) must equal the decoded count:
    the broadcast decision trusted it, and an understated one would
    otherwise reach the driver as an oversized broadcast. `label`
    names the vector in that error."""
    cards = [c for *_, c in rows]
    desc = local_frame(
        spark,
        [
            (f, label, json.dumps(args), -1 if c is None else int(c))
            for f, label, args, c in sorted(rows, key=lambda r: r[:2])
        ],
        "f string, label string, args string, card long",
    ).repartition(min(len(rows), 64))

    def expand(batches):
        import pandas as pd

        for pdf in batches:
            for f, label, args, card in zip(
                pdf["f"], pdf["label"], pdf["args"], pdf["card"]
            ):
                idx = decode(*json.loads(args))
                if card >= 0 and len(idx) != card:
                    raise ValueError(
                        f"deletion vector at {label} decodes to {len(idx)} "
                        f"positions but the manifest declares cardinality {card}"
                    )
                for i in range(0, len(idx), _CHUNK):
                    yield pd.DataFrame(
                        {"__pd_file": f, "__pd_ridx": idx[i : i + _CHUNK]}
                    )

    return desc.mapInPandas(expand, "__pd_file string, __pd_ridx long"), cards


def live(scan, deletes=()):
    """A positional scan (as `assemble_view(with_pos=True)` builds it:
    `__pd_file` a path or URI) keyed by basename, minus every
    (deleted positions, cardinalities) pair in `deletes`: an anti-join
    on `POS` that broadcasts the deleted positions only when every
    cardinality is known (not None, >= 0) and they total at most
    BROADCAST_MAX_ROWS."""
    scan = scan.withColumn("__pd_file", basename(F.col("__pd_file")))
    for deleted, cards in deletes:
        if all(c is not None and c >= 0 for c in cards) and sum(cards) <= (
            BROADCAST_MAX_ROWS
        ):
            deleted = F.broadcast(deleted)
        scan = scan.join(deleted, POS, "left_anti")
    return scan


def hits(live, condition, prior=None):
    """The positions of the `live` rows where `condition` holds
    (`rw.matched`). With `prior` (positions already deleted), the hit
    files' prior positions come too: a file's new deletion vector
    replaces its old one, so it must keep what the old one marked."""
    new = live.where(rw.matched(condition)).select(POS)
    if prior is None:
        return new
    hit_files = new.select("__pd_file").distinct()
    return new.unionByName(prior.join(hit_files, "__pd_file", "left_semi"))


def with_row_ids(spark, scan, ids, names, materialized=(None, None)):
    """`scan` (positional, keyed by basename) with row-id columns
    `names` = (id, version). A row's id is its file's base id plus its
    position, and its version the file's, from `ids` = {basename:
    (base id, version)} (table metadata, broadcast). Where the
    `materialized` (id, version) column pair holds a value, it wins:
    a rewrite that kept ids wrote them there."""
    base = local_frame(
        spark,
        [(b, i, v) for b, (i, v) in sorted(ids.items())],
        "__pd_file string, __id_base long, __id_ver long",
    )
    rid = F.col("__id_base") + F.col("__pd_ridx")
    ver = F.col("__id_ver")
    mat_id, mat_ver = materialized
    if mat_id is not None:
        rid = F.coalesce(F.col(mat_id), rid)
    if mat_ver is not None:
        ver = F.coalesce(F.col(mat_ver), ver)
    keep = [c for c in scan.columns if c not in names]
    return scan.join(F.broadcast(base), "__pd_file").select(
        *keep, rid.alias(names[0]), ver.alias(names[1])
    )
