"""Drop-in job API for users of the reference MapReduce framework.

The reference's ONLY user surface is a job submission naming a Python
``mapfunc`` / ``reducefunc`` pair plus (M, R) task counts over a
container of text blobs (reference w7/client.sh:224,
w7/src/master/requesthandler.h:160-202).  The user contract, fixed by
the embedded-CPython bridge (w7/src/worker/workerimpl.cc:155-247;
w7/src/python/map.py, reduce.py):

    mapfunc(path: str)    -> dict[str, int]   # path = one shard of input text
    reducefunc(path: str) -> dict[str, int]   # path = 'key:value' lines for
                                              # one hash partition of keys

:func:`run_job` honours that contract byte-for-byte on Spark:

    spark.read.text        = ranged shard download + word-boundary fix
                             (worker.h:42-86,196-232 — Spark's text source
                             does line-safe splits natively)
    mapInPandas(map)       = map_shard + embedded interpreter
                             (workerimpl.cc:85-105)
    repartition(R, key)    = hash(key) % R intermediate routing
                             (workerimpl.cc:254)
    mapInPandas(reduce)    = reduce task over concatenated partition
                             (workerimpl.cc:112-130)
    write.text 'key:value' = out_<r> blob per reducer
                             (workerimpl.cc:319-333)

Closure under composition (w6/docs/design.md:74 — "output … must be in
the same format as we expect from input") holds: the sink emits plain
``key:value`` text lines, which are valid input lines for the next
job's mapfunc, and :func:`read_kv_text` parses them back to a typed
DataFrame.

Scale posture: this path exists for CONTRACT PARITY.  Each user
function runs once per partition over an Arrow-batched local spool
file, so it scales out linearly with partitions and never collects to
the driver — but the declarative pipeline (queries/wordcount.py) is the
fast path: it stays in whole-stage codegen and gets Catalyst's partial
aggregation, which the opaque-dict contract structurally cannot.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:  # executors never import this module — see _make_spool_stage
    import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

MapFunc = Callable[[str], dict[str, int]]
ReduceFunc = Callable[[str], dict[str, int]]

KV_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("value", LongType(), False),
    ]
)


def _make_spool_stage(
    fn: Callable[[str], dict[str, int]],
    prefix: str,
    as_kv_lines: bool,
):
    """Build a self-contained mapInPandas stage around a user function.

    The stage writes its partition to a local spool file and hands the
    PATH to ``fn`` — the exact calling convention of the reference's
    worker (download shard to temp file, pass the file name into the
    embedded interpreter, workerimpl.cc:93,143-147).

    Everything the closure touches is bound locally so cloudpickle
    ships it BY VALUE: executors must never need this package
    importable (the external driver may run from any directory — see
    functions/tokenize.py:make_reference_tokenizer for the same rule).
    """

    def stage(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import os as _os
        import tempfile as _tempfile

        import pandas as _pd

        fd, path = _tempfile.mkstemp(prefix=prefix, suffix=".txt")
        try:
            with _os.fdopen(fd, "w", encoding="utf-8", errors="replace") as f:
                for pdf in batches:
                    if as_kv_lines:
                        for key, value in zip(pdf["key"], pdf["value"]):
                            f.write(f"{key}:{int(value)}\n")
                    else:
                        for line in pdf["value"]:
                            f.write("" if line is None else str(line))
                            f.write("\n")
            counts = fn(path)
        finally:
            _os.unlink(path)
        yield _pd.DataFrame(
            {
                "key": _pd.array(list(counts.keys()), dtype="string"),
                "value": _pd.array(
                    [int(v) for v in counts.values()], dtype="int64"
                ),
            }
        )

    return stage


def run_job(
    spark: SparkSession,
    input_path: str,
    mapfunc: MapFunc,
    reducefunc: ReduceFunc,
    num_mappers: int | None = None,
    num_reducers: int = 3,
    output_path: str | None = None,
) -> DataFrame:
    """Run a reference-contract MapReduce job; return DataFrame[key, value].

    ``num_mappers`` defaults to Spark's own split planning
    (``spark.sql.files.maxPartitionBytes`` reproduces the reference's
    size-balanced sharding, dbconn.h:39-64, without any driver-side
    listing loop).  Passing it forces an extra repartition of the raw
    text — only do that to reproduce a reference run's exact M.

    ``num_reducers`` is the reference's R: keys route to partitions by
    hash, and with ``output_path`` set the sink writes exactly R
    ``key:value`` text files (one per reduce partition, out_<r>).
    """
    lines = spark.read.text(input_path)
    if num_mappers is not None:
        lines = lines.repartition(num_mappers)

    mapped = lines.mapInPandas(
        _make_spool_stage(mapfunc, "mr_map_", as_kv_lines=False), schema=KV_SCHEMA
    )

    # hash(key) % R (workerimpl.cc:254).  repartition(R, key) is Spark's
    # HashPartitioning on the key — same routing guarantee: every
    # occurrence of a key lands in exactly one of R partitions.
    shuffled = mapped.repartition(num_reducers, "key")

    result = shuffled.mapInPandas(
        _make_spool_stage(reducefunc, "mr_reduce_", as_kv_lines=True),
        schema=KV_SCHEMA,
    )

    if output_path is not None:
        write_kv_text(result, output_path)
        # Re-read so the returned frame is the durable output (and the
        # chainable one), not a recompute.
        return read_kv_text(spark, output_path)
    return result


def write_kv_text(df: DataFrame, path: str) -> None:
    """Sink in the reference's output format: one text file per
    partition of ``key:value`` lines (workerimpl.cc:256-261,319-333)."""
    df.select(
        F.concat_ws(":", F.col("key"), F.col("value").cast("string")).alias("value")
    ).write.mode("overwrite").text(path)


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """Parse a ``key:value`` text sink back to DataFrame[key, value] —
    the closure-under-composition half of design.md:74.  Splits on the
    LAST colon so keys containing ':' survive a round-trip (the greedy
    ``(.*)`` backtracks to the last ':' with an all-digit suffix —
    exactly ``rpartition`` + digit-check, the Python lane's grammar).

    ONE grammar across lanes: lines that don't match
    ``^(.*):(-?[0-9]+)$`` are FILTERED here, identically to the Python
    DataSource's ``parse_kv_lines`` skip — mapping a malformed line to
    a ``('', NULL)`` row would make it indistinguishable from the
    legitimate empty-string key.  ``[0-9]`` not ``\\d``: both lanes
    mean ASCII digits only (Python's ``\\d`` accepts unicode digits
    that ``CAST AS long`` then rejects).

    ONE generation resolution across lanes: a sink that has seen an
    overwrite commit carries a ``_manifest`` naming the live epoch;
    this lane resolves shards through the same
    :func:`..sources.kvtext_datasource.live_shard_names` helper the
    DataSource readers use, so a scan racing an overwrite observes
    old-or-new, never a torn mixture.  Manifest-less dirs (append-only
    sinks, foreign sinks) keep the whole-dir text scan — Spark's text
    source already skips ``_``/``.``-prefixed files — UNLESS the dir
    contains epoch-tagged ``part-e*`` shards: those belong to an
    in-flight or crashed FIRST overwrite's unpublished generation and
    a whole-dir glob would read them torn, so such dirs route through
    the same generation resolution as the DataSource lane."""
    import os as _os

    from mapreduce_framework_spark.sources.kvtext_datasource import (
        live_shard_names,
        read_manifest,
        shard_epoch,
    )

    pat = r"^(.*):(-?[0-9]+)$"
    if _os.path.isdir(path) and (
        read_manifest(path) is not None
        or any(shard_epoch(n) is not None for n in _os.listdir(path))
    ):
        shards = [_os.path.join(path, n) for n in live_shard_names(path)]
        src = (
            spark.read.text(shards)
            if shards
            else spark.createDataFrame([], "value string")
        )
    else:
        src = spark.read.text(path)
    lines = src.where(F.col("value").rlike(pat))
    return lines.select(
        F.regexp_extract("value", pat, 1).alias("key"),
        F.regexp_extract("value", pat, 2).cast("long").alias("value"),
    )


def make_wordcount_mapfunc() -> MapFunc:
    """Our own implementation of the reference's sample mapper CONTRACT
    (w7/src/python/map.py:3-26): read the shard file, tokenize each line
    (lower, punctuation→space, split, drop empties), pre-aggregate counts
    in a dict (the map-side combine, map.py:16-22).

    Built as a closure so cloudpickle ships it by value to executors.
    """
    import string as _string

    punct_table = str.maketrans(_string.punctuation, " " * len(_string.punctuation))

    def mapfunc(path: str) -> dict[str, int]:
        counts: dict[str, int] = {}
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                line = line.strip().lower().translate(punct_table)
                for word in line.split(" "):
                    if word:
                        counts[word] = counts.get(word, 0) + 1
        return counts

    return mapfunc


def make_wordcount_reducefunc() -> ReduceFunc:
    """Our own implementation of the reference's sample reducer CONTRACT
    (w7/src/python/reduce.py:2-17): sort the partition's ``key:value``
    lines, sum values per key."""

    def reducefunc(path: str) -> dict[str, int]:
        with open(path, encoding="utf-8", errors="replace") as f:
            lines = sorted(f.readlines())
        counts: dict[str, int] = {}
        for line in lines:
            line = line.rstrip("\n")
            if not line:
                continue
            key, _, value = line.rpartition(":")
            counts[key] = counts.get(key, 0) + int(value)
        return counts

    return reducefunc
