"""The two workloads. Each one calls only the program's public entry points:

- ``extract``: ``pipeline.extract_job.extract_documents`` → noop sink, then
  ``streaming.stream_job.stream_extract`` drained to the end;
- ``corpus``: ``entry_queries.queries()`` leaves, collected.

A pass is timed from the public call through its sink, so work done while
the plan is built (loops in the call that launch their own Spark jobs) is
counted; ``plan_s`` is the part spent inside the call, ``exec_s`` the part
spent in the sink. Every call runs under a job group ``<pass>|<op>|<part>``
so the event log can tie stages to it.
"""

from __future__ import annotations

import math
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import inputs, oracles

EXTRACT_DOCS = 1200
STREAM_DOCS = 16  # the first docs of the extract input
STREAM_FILES = 4  # one micro-batch
STREAM_FILES_PER_TRIGGER = 4  # stream_extract's default
CORPUS_DOCS = 500
CORPUS_VECTORS = 200

# text operators of jobs/run_corpus_pipeline.py (one or more per module) and
# the ANN similarity operator, by the module that owns each.
# dedup_components runs the minhash pairing and then the
# components_from_edges rounds while its plan is built.
CORPUS_LEAVES = {
    "corpus_clean": "operators.textops",
    "dedup_components": "operators.dedup",
    "contamination_3gram": "operators.traindata",
    "lm_ppl_buckets": "operators.corpus_stats",
    "ann_ivf_topk_all": "operators.similarity",
}


@dataclass
class Op:
    """One operation: a pass, a leaf call or a micro-batch."""

    name: str
    wall_s: float
    plan_s: float = 0.0
    exec_s: float = 0.0
    raised: bool = False
    result: object = None  # what the check compares against the oracle


@dataclass
class Pass:
    tag: str
    wall_s: float
    ops: list[Op]
    progress: list[dict] = field(default_factory=list)  # stream micro-batches
    run_id: str | None = None


def _failed(p: Pass, what: str) -> None:
    print(f"perfbench: check failed: {what} in pass {p.tag}", file=sys.stderr)


def tag(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def _timed_call(spark, group: str, build, sink) -> Op:
    """Time ``sink(build())``: plan_s inside the public call, exec_s in the sink."""
    t0 = time.perf_counter()
    try:
        tag(spark, f"{group}|plan")
        df = build()
        t1 = time.perf_counter()
        tag(spark, f"{group}|exec")
        out = sink(df)
        t2 = time.perf_counter()
    except Exception:  # a raising call is a failed operation, not a crash
        traceback.print_exc()
        return Op(group.split("|")[1], time.perf_counter() - t0, raised=True)
    return Op(group.split("|")[1], t2 - t0, t1 - t0, t2 - t1, result=(df, out))


class Extract:
    """Html pages through both extraction entry points. A pass is a batch
    ``extract_documents`` call over the docs to a noop sink (the fused
    Python split+extract stage and its Arrow boundary), then a
    ``stream_extract`` drain of a seeded subset of them, spread over
    parquet files, into fresh output and checkpoint dirs (the same kernel
    in micro-batches plus the manifest anti-join and two parquet appends
    per batch)."""

    name = "extract"
    item = "pages"
    oracle_ops = ("extract",)  # run_oracle reproduces the batch call only

    def prepare(self, seed: int, work: Path, slots: int) -> None:
        self.rows = inputs.html_pages(EXTRACT_DOCS, seed)
        self.work = work
        self.in_dir = work / "extract-docs"
        inputs.write_pages(self.rows, self.in_dir, slots)
        self.stream_dir = work / "stream-in"
        inputs.write_pages(self.rows[:STREAM_DOCS], self.stream_dir, STREAM_FILES)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(str(self.in_dir))
        self.docs.count()
        spark.read.parquet(str(self.stream_dir)).count()

    def run_pass(self, spark, ptag: str, collect: bool = False) -> Pass:
        """Batch call then drain. The batch call writes all columns to the
        noop sink, or with ``collect`` collects the columns the oracle check
        compares (the cold pass, which is not timed)."""
        from deepseek_ocr_spark.pipeline.extract_job import extract_documents

        if collect:
            sink = lambda df: df.select("url", "digest", "n_pages").collect()  # noqa: E731
        else:
            sink = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        batch = _timed_call(spark, f"{ptag}|extract", lambda: extract_documents(self.docs), sink)
        if not batch.raised:
            batch.result = [(r["url"], r["digest"], r["n_pages"]) for r in batch.result[1]] if collect else None
        ops, progress, run_id = self._drain(spark, ptag)
        ops = [batch, *ops]
        return Pass(ptag, batch.wall_s + ops[1].wall_s, ops, progress, run_id)

    def _drain(self, spark, ptag: str) -> tuple[list[Op], list[dict], str | None]:
        """Drain the stream input to the end: [drain, batch...], the
        micro-batch progress and the query's run id."""
        from pyspark.errors import AnalysisException

        from deepseek_ocr_spark.pipeline.checkpoint import manifest_path
        from deepseek_ocr_spark.streaming.stream_job import stream_extract

        out = self.work / f"stream-out-{ptag}"
        ckpt = self.work / f"stream-ckpt-{ptag}"
        t0 = time.perf_counter()
        try:
            tag(spark, f"{ptag}|drain|plan")
            query = stream_extract(spark, str(self.stream_dir), str(out), str(ckpt))
            t1 = time.perf_counter()
            query.awaitTermination()
            wall = time.perf_counter() - t0
        except Exception:  # a raising drain is a failed operation, not a crash
            traceback.print_exc()
            wall = time.perf_counter() - t0
            return [Op("drain", wall, raised=True)], [], None
        progress = list(query.recentProgress)
        tag(spark, f"{ptag}|check|exec")
        try:
            manifest = [
                (r["url"], r["digest"])
                for r in spark.read.parquet(manifest_path(str(out))).select("url", "digest").collect()
            ]
        except AnalysisException:  # nothing was committed
            manifest = []
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        batches = [
            Op("batch", p["durationMs"]["triggerExecution"] / 1e3, exec_s=p["durationMs"].get("addBatch", 0) / 1e3)
            for p in progress
        ]
        drain = Op("drain", wall, t1 - t0, wall - (t1 - t0), result=manifest)
        return [drain, *batches], progress, str(query.runId)

    def oracle(self) -> float:
        self.expected, serial_s = oracles.extract_oracle(self.rows)
        return serial_s

    def check(self, passes: list[Pass]) -> tuple[int, int]:
        """(attempted, failed). A batch call is one operation; only a
        collected one carries rows to check. A drain is checked whole: every
        stream input url exactly once in the manifest with the oracle's
        digest, in the expected number of micro-batches (a reused checkpoint
        drains nothing). Each micro-batch is an operation; a drain that
        fails its check fails all of them, and one that ran no batch counts
        as one failed operation."""
        attempted = failed = 0
        for p in passes:
            ops = p.ops
            if ops[0].name == "extract":
                attempted += 1
                failed += self._batch_failed(p, ops[0])
                ops = ops[1:]
            if ops:
                n = max(len(ops) - 1, 1)
                attempted += n
                failed += n * self._drain_failed(p, ops[0], ops[1:])
        return attempted, failed

    def _batch_failed(self, p: Pass, op: Op) -> bool:
        if op.raised:
            return True
        if op.result is None:  # a noop-sink call: nothing to compare
            return False
        got = {u: (d, n) for u, d, n in op.result}
        if len(op.result) != len(self.expected) or got != self.expected:
            _failed(p, "extracted rows")
            return True
        return False

    def _drain_failed(self, p: Pass, drain: Op, batches: list[Op]) -> bool:
        want = {r["url"]: self.expected[r["url"]][0] for r in self.rows[:STREAM_DOCS]}
        ok = (
            not drain.raised
            and len(batches) == math.ceil(STREAM_FILES / STREAM_FILES_PER_TRIGGER)
            and len(drain.result) == len(want)
            and dict(drain.result) == want
        )
        if not ok:
            _failed(p, "manifest")
        return not ok

    def items(self) -> int:
        stream = sum(self.expected[r["url"]][1] for r in self.rows[:STREAM_DOCS])
        return sum(n for _, n in self.expected.values()) + stream


class Corpus:
    """Registry leaves over sf-shaped ``documents`` and ``embeddings`` tables,
    each result collected in full."""

    name = "corpus"
    item = "input rows"
    leaves = CORPUS_LEAVES
    oracle_ops = tuple(CORPUS_LEAVES)

    def prepare(self, seed: int, work: Path, slots: int) -> None:
        self.sf_dir = work / "sf"
        inputs.write_table(inputs.documents_table(CORPUS_DOCS, seed), self.sf_dir / "documents.parquet")
        inputs.write_table(inputs.embeddings_table(CORPUS_VECTORS, seed), self.sf_dir / "embeddings.parquet")

    def load(self, spark) -> None:
        for table in ("documents", "embeddings"):
            spark.read.parquet(str(self.sf_dir / f"{table}.parquet")).count()

    def run_pass(self, spark, ptag: str, collect: bool = True) -> Pass:
        """Every leaf result is collected and checked, on every pass."""
        from deepseek_ocr_spark.entry_queries import queries

        reg = queries()
        ops = []
        for leaf in self.leaves:
            op = _timed_call(
                spark,
                f"{ptag}|{leaf}",
                lambda leaf=leaf: reg[leaf](spark, str(self.sf_dir)),
                lambda df: df.collect(),
            )
            if not op.raised:
                df, rows = op.result
                op.result = oracles.result_key([tuple(r) for r in rows], df.columns)
            ops.append(op)
        return Pass(ptag, sum(o.wall_s for o in ops), ops)

    def oracle(self) -> float:
        self.expected, serial_s = oracles.duckdb_oracle(self.sf_dir, list(self.leaves))
        return serial_s

    def check(self, passes: list[Pass]) -> tuple[int, int]:
        attempted = failed = 0
        for p in passes:
            for op in p.ops:
                attempted += 1
                if op.raised or op.result != self.expected[op.name]:
                    _failed(p, op.name)
                    failed += 1
        return attempted, failed

    def items(self) -> int:
        return CORPUS_DOCS + CORPUS_VECTORS


WORKLOADS = {"extract": Extract, "corpus": Corpus}
