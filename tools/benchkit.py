"""What the bench tools share: span timing and the scaled corpora.

Time and Spark counters come from one instrument, ``perfbench.harness``:
a :class:`Tracer` span per timed call, and with tracing on, the
counters of the jobs the call started, read from the in-process status
store once the listener bus has drained. No tool needs the Spark UI or
HTTP polling. A best-of-N timing is the fastest span of one name.

Scaled copies of ``documents`` come in two kinds:

- :func:`salted_copies` keeps every copy a near-duplicate of the base,
  for operators whose cost is linear in rows;
- :func:`namespaced_copies` gives every copy its own tokens, so a pair
  generator's true pairs and candidates grow exactly ``m``-fold.
"""

from __future__ import annotations

import os


def noop(df) -> None:
    """Run ``df`` to completion through the noop sink (no collect)."""
    df.write.format("noop").mode("overwrite").save()


def repeat(tracer, name: str, reps: int, fn):
    """Call ``fn`` ``reps`` times, each in a span ``name``; return the
    last call's result."""
    out = None
    for _ in range(reps):
        with tracer.span(name):
            out = fn()
    return out


def best(tracer, name: str) -> float:
    """Seconds of the fastest span ``name``, rounded to milliseconds."""
    return round(min(s.seconds for s in tracer.named(name)), 3)


def _copies(base, m: int, text):
    from pyspark.sql import functions as F

    copy = base.sparkSession.range(m).withColumnRenamed("id", "copy")
    return base.crossJoin(copy).select(
        (F.col("doc_id") * m + F.col("copy")).alias("doc_id"),
        text.alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def salted_copies(base, m: int):
    """``m`` copies of ``documents`` with disjoint ``doc_id`` ranges and
    one token ``salt<copy>`` appended per copy: near- but not
    exact-duplicates of each other. A pair generator over them gains
    cross-copy pairs quadratically in ``m``."""
    from pyspark.sql import functions as F

    return _copies(
        base, m, F.concat("text", F.lit(" salt"), F.col("copy").cast("string"))
    )


def namespaced_copies(base, m: int):
    """``m`` copies of ``documents`` with disjoint ``doc_id`` ranges and
    disjoint tokens: copy 0 is the base text, copy ``i > 0`` prefixes
    every token with ``c<i>~``. Each copy has the base's within-copy
    shingle structure and shares no shingle with another copy, so true
    pairs and prefix-filter candidates scale exactly ``m``-fold."""
    from pyspark.sql import functions as F

    tag = F.concat(F.lit("c"), F.col("copy").cast("string"), F.lit("~"))
    spaced = F.array_join(
        F.transform(F.split(F.trim("text"), " "), lambda t: F.concat(tag, t)),
        " ",
    )
    return _copies(base, m, F.when(F.col("copy") == 0, F.col("text")).otherwise(spaced))


def write_scaled(docs, m: int, sf_dir: str, dest: str) -> str:
    """Write ``docs`` (``m`` copies) as ``dest/documents.parquet`` in
    ``max(m, cores)`` files and link every other table of ``sf_dir``
    not already in ``dest``, so ``dest`` reads as a scale-factor dir."""
    spark = docs.sparkSession
    os.makedirs(dest, exist_ok=True)
    docs.repartition(max(m, spark.sparkContext.defaultParallelism)).write.parquet(
        f"{dest}/documents.parquet"
    )
    for t in os.listdir(sf_dir):
        if not os.path.exists(f"{dest}/{t}"):
            os.symlink(f"{sf_dir}/{t}", f"{dest}/{t}")
    return dest
