"""Copy-direction runner (reference ``Main.java:107-148``).

Per task: resolve and configure the input and output adapters by verb →
load into named sub-streams → for each sub-stream, rewrite the sub-name
under the dest name and save. Unlike the reference's eager pair-RDD relay,
every stream here is a lazy DataFrame: source → (projection,
repartitioning) → sink is one Catalyst plan per sub-stream, so scan pruning
and pushdown reach the source even though the config is imperative.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..model import Partitioning
from ..registry import resolve_input, resolve_output
from .config import Configuration, DistTask


def run_task(spark: SparkSession, task: DistTask) -> list[str]:
    """Execute one copy task; returns the dest names saved, in load order."""
    src, dst = task.source, task.dest
    inp = resolve_input(src.adapter)().configure(src.params).initialize(spark, src.path)
    outp = resolve_output(dst.adapter)().configure(dst.params).initialize(spark, dst.path)
    streams = inp.load(
        src.name or "source", src.part_count, Partitioning[src.partitioning]
    )
    saved = []
    for sub_name, stream in streams.items():
        # dest naming: "src/sub" → "dest/sub" (reference Main.java:139-145)
        if "/" in sub_name:
            dest_name = f"{dst.name or 'dest'}/{sub_name.split('/', 1)[1]}"
        else:
            dest_name = dst.name or sub_name
        outp.save(dest_name, stream)
        saved.append(dest_name)
    return saved


def run(
    spark: SparkSession, config: Configuration, direction: str | None = None
) -> list[list[str]]:
    return [run_task(spark, t) for t in config.direction(direction)]
