"""The benchmark's three workloads.

Each workload runs one job per closed-loop iteration (the client waits for a
job to finish before it starts the next), checks its outputs once after the
timed loop, and, in a traced run, names the public calls to wrap and the
per-layer metrics it can add.

* ``code_filter``: ``quality_pipeline(QualityPipelineConfig())`` over the
  seeded code corpus, materialized through a noop sink.  Nearly all of its
  wall time is the fused ``MapInPandas`` pass and the kernels inside it.
* ``code_filter_iceberg``: the same pipeline through
  ``run_checkpointed_iceberg`` (32 buckets, 8 per commit, the production
  runner's defaults) into a fresh table, with a planned crash after the first
  committed batch and a resumed second invocation, then a ``keep``-filtered
  read-back and the lineage table.
* ``near_dup``: ``exact_dedup`` then ``minhash_dedup`` over a corpus with
  planted exact and near copies.  It never enters the fused chain.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import corpus as corpus_mod
from harness import KernelChain, decision_checksum, keep_f1, sha256_hex

N_FILES = 16
SAMPLE_ROWS = 500  # rows of the per-row harness sample
ICEBERG_BUCKETS = 32  # tools/run_pipeline.py --iceberg-out defaults
ICEBERG_PER_COMMIT = 8
MIN_NEAR_RECALL = 0.99
SCALING_TASKS = 4  # scaling_eff compares this many concurrent tasks with one


class JobFailed(RuntimeError):
    """A job finished but its result is wrong."""


class PlannedCrash(RuntimeError):
    """Raised by the benchmark's transform wrapper to interrupt a run."""


@dataclass
class Ctx:
    spark: object
    seed: int
    corpus_dir: str
    n_rows: int
    work_dir: str
    cores: int
    tracer: object | None = None
    jobs_run: int = 0
    notes: dict = field(default_factory=dict)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def read(self):
        return self.spark.read.parquet(self.corpus_dir)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _decisions(df, text_col: str) -> dict:
    """doc id → (keep, drop_reason, sha256 of ``text_col``), collected."""
    import pyspark.sql.functions as F

    rows = df.select("doc_id", "keep", "drop_reason", F.sha2(F.col(text_col), 256).alias("sha")).collect()
    out = {}
    for r in rows:
        if r["doc_id"] in out:
            raise JobFailed(f"doc {r['doc_id']!r} appears twice")
        out[r["doc_id"]] = (bool(r["keep"]), r["drop_reason"], r["sha"])
    return out


def _record_checksum(ctx: Ctx, key: str, checksum: str) -> str | None:
    """Store the checksum of a (corpus, seed, size) in the work dir; return
    a problem if an earlier run recorded a different one."""
    path = os.path.join(ctx.work_dir, "checksums.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    if key in known and known[key] != checksum:
        return f"decision checksum {checksum} differs from {known[key]} recorded for {key}"
    known[key] = checksum
    with open(path + ".tmp", "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return None


class Workload:
    name = ""
    corpus_kind = "code"
    why = ""
    # files_per_s is the median of the jobs after the first, so every run
    # times at least two; a run that fits only two in its seconds is a slow
    # one, and its second job is still earlier in the JVM's warm-up than the
    # third that faster runs also time
    min_jobs = 3

    def warm(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def job(self, ctx: Ctx) -> int:
        """Run one job; return the input files it fully processed."""
        raise NotImplementedError

    def check(self, ctx: Ctx) -> dict:
        """{'problems': [...], 'keep_f1': float, ...} for this run's outputs."""
        raise NotImplementedError

    def trace_targets(self, ctx: Ctx) -> list:
        return []

    def layer_metrics(self, ctx: Ctx) -> dict:
        return {}

    def cleanup(self, ctx: Ctx) -> None:
        pass


class CodeFilter(Workload):
    name = "code_filter"
    why = "the north-rule job: fused Python quality chain over a code corpus, no shuffle and no write"

    def pipeline(self, df):
        from datatrove_spark import pipeline

        return pipeline.quality_pipeline(df, pipeline.QualityPipelineConfig())

    def warm(self, ctx: Ctx) -> None:
        # the production runner's warm-up: start every Python worker and build
        # its LID singleton on a small slice spread over all cores
        noop(self.pipeline(ctx.read().limit(64 * ctx.cores).repartition(ctx.cores)))

    def job(self, ctx: Ctx) -> int:
        # the decision rows are the job's output: collecting them costs far
        # less than a separate check pass would
        ctx.notes.setdefault("decisions", []).append(
            _decisions(self.pipeline(ctx.read()), "scrubbed_content")
        )
        return ctx.n_rows

    def code_check(self, ctx: Ctx, decisions: dict) -> dict:
        """Harness sample, keep/drop F1, scrubbed-survivor sha256 equality and
        the cross-run decision checksum for a code corpus's decisions."""
        import pyarrow.parquet as pq

        problems = []
        if len(decisions) != ctx.n_rows:
            problems.append(f"{len(decisions)} decisions for {ctx.n_rows} input files")
        table = pq.read_table(ctx.corpus_dir, columns=["repo", "path", "commit", "content"])
        step = max(ctx.n_rows // SAMPLE_ROWS, 1)
        chain = KernelChain()
        expected, actual = {}, {}
        for i in range(0, table.num_rows, step):
            row = {c: table.column(c)[i].as_py() for c in table.column_names}
            doc_id = f"{row['repo']}/{row['path']}@{row['commit']}"
            keep, _reason, scrubbed = chain.decide(row["content"])
            got = decisions.get(doc_id)
            if got is None:
                problems.append(f"doc {doc_id!r} missing from the output")
                continue
            expected[doc_id], actual[doc_id] = keep, got[0]
            if keep and got[0] and sha256_hex(scrubbed) != got[2]:
                problems.append(f"scrubbed text of {doc_id!r} differs from the per-row harness")
        f1 = keep_f1(expected, actual)
        if f1 < 0.99:
            problems.append(f"keep/drop F1 {f1:.4f} < 0.99 against the per-row harness")
        checksum = decision_checksum((k, *v) for k, v in decisions.items())
        problem = _record_checksum(ctx, f"code:{ctx.seed}:{ctx.n_rows}", checksum)
        if problem:
            problems.append(problem)
        ctx.notes["kernels"] = chain.report()
        return {
            "problems": problems,
            "keep_f1": f1,
            "checksum": checksum,
            "sample": len(expected),
            "harness_us_per_doc": ctx.notes["kernels"]["kernels.chain.us_per_doc"],
            "kept": sum(v[0] for v in decisions.values()),
        }

    def check(self, ctx: Ctx) -> dict:
        runs = ctx.notes.pop("decisions", [])
        if not runs:
            return {"problems": ["no job finished"], "keep_f1": 0.0, "checksum": ""}
        result = self.code_check(ctx, runs[-1])
        if any(d != runs[-1] for d in runs):
            result["problems"].append("jobs of one run decided differently")
        return result

    def layer_metrics(self, ctx: Ctx) -> dict:
        return dict(ctx.notes.get("kernels", {}))

    def scaling_eff(self, ctx: Ctx) -> float:
        """files/s with SCALING_TASKS concurrent tasks ÷ (SCALING_TASKS ×
        files/s with one task), each task reading N_FILES // SCALING_TASKS
        corpus files: the scan gets one partition per file, which
        ``coalesce`` groups into the tasks.  On a host with fewer cores than
        SCALING_TASKS the tasks cannot all run at once."""
        import pyarrow.parquet as pq

        files = sorted(
            os.path.join(ctx.corpus_dir, f) for f in os.listdir(ctx.corpus_dir) if f.endswith(".parquet")
        )
        per_task = len(files) // SCALING_TASKS

        def rate(tasks: int) -> float:
            read = files[: per_task * tasks]
            df = ctx.spark.read.parquet(*read).coalesce(tasks)
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in read)
            t0 = time.perf_counter()
            noop(self.pipeline(df))
            return rows / (time.perf_counter() - t0)

        # the corpus files are far smaller than Spark's 4 MB file open cost,
        # so asking for a partition per file gets exactly that on any host
        ctx.spark.conf.set("spark.sql.files.minPartitionNum", str(len(files)))
        try:
            return rate(SCALING_TASKS) / (SCALING_TASKS * rate(1))
        finally:
            ctx.spark.conf.unset("spark.sql.files.minPartitionNum")


class CodeFilterIceberg(CodeFilter):
    name = "code_filter_iceberg"
    why = "the production runner: same kernels beside Iceberg write, commit, crash-resume and pruned read-back"
    min_jobs = 1  # one job outlasts the run's seconds; three would triple the run

    def _table(self, ctx: Ctx, k) -> str:
        return os.path.join(ctx.work_dir, "tables", f"{self.name}-{k}")

    def warm(self, ctx: Ctx) -> None:
        from datatrove_spark import lineage
        from datatrove_spark.sources.iceberg_native import IcebergTable

        super().warm(ctx)
        # also load the write, commit, snapshot-log and read paths once
        location = self._table(ctx, "warm")
        shutil.rmtree(location, ignore_errors=True)
        cfg = lineage.LineageConfig(out_dir=location, n_buckets=1, buckets_per_commit=1)
        lineage.run_checkpointed_iceberg(ctx.spark, ctx.read().limit(64 * ctx.cores), self.pipeline, cfg)
        noop(IcebergTable.load(location).read(ctx.spark, partition_filter={"keep": True}))
        lineage.iceberg_lineage_table(ctx.spark, location).collect()
        shutil.rmtree(location, ignore_errors=True)

    def job(self, ctx: Ctx) -> int:
        from datatrove_spark import lineage
        from datatrove_spark.sources.iceberg_native import IcebergTable

        ctx.jobs_run += 1
        location = self._table(ctx, ctx.jobs_run)  # every job writes a fresh table
        cfg = lineage.LineageConfig(
            out_dir=location, n_buckets=ICEBERG_BUCKETS, buckets_per_commit=ICEBERG_PER_COMMIT
        )
        calls = 0

        def crashing(part):
            nonlocal calls
            calls += 1
            ctx.notes.setdefault("transform_starts", []).append(time.time())
            if calls == 2:  # the first batch has committed
                raise PlannedCrash("planned crash after the first committed batch")
            return self.pipeline(part)

        def resuming(part):
            ctx.notes.setdefault("transform_starts", []).append(time.time())
            return self.pipeline(part)

        df = ctx.read()
        try:
            lineage.run_checkpointed_iceberg(ctx.spark, df, crashing, cfg)
            raise JobFailed("the planned crash did not fire")
        except PlannedCrash:
            pass
        summary = lineage.run_checkpointed_iceberg(ctx.spark, df, resuming, cfg)
        if summary["committed_before"] != ICEBERG_PER_COMMIT:
            raise JobFailed(f"resume found {summary['committed_before']} committed buckets")
        table = IcebergTable.load(location)
        noop(table.read(ctx.spark, partition_filter={"keep": True}))
        with ctx.span("lineage.table_read"):
            rows = lineage.iceberg_lineage_table(ctx.spark, location).collect()
        if sum(r["n_in"] for r in rows) != ctx.n_rows:
            raise JobFailed(f"lineage counts {sum(r['n_in'] for r in rows)} rows for {ctx.n_rows} files")
        return ctx.n_rows

    def check(self, ctx: Ctx) -> dict:
        from datatrove_spark.sources.iceberg_native import IcebergTable

        table = IcebergTable.load(self._table(ctx, ctx.jobs_run))
        result = self.code_check(ctx, _decisions(table.read(ctx.spark), "scrubbed_content"))
        # the uninterrupted pipeline over the same files must decide the same
        reference = decision_checksum(
            (k, *v) for k, v in _decisions(self.pipeline(ctx.read()), "scrubbed_content").items()
        )
        if reference != result["checksum"]:
            result["problems"].append(
                f"crash+resume checksum {result['checksum']} != uninterrupted {reference}"
            )
        everything = len(table.data_files())
        kept = len(table.data_files(partition_filter={"keep": True}))
        ctx.notes["prune_ratio"] = (everything - kept) / everything if everything else 0.0
        return result

    def trace_targets(self, ctx: Ctx) -> list:
        from datatrove_spark import lineage
        from datatrove_spark.sources.iceberg_native import IcebergTable

        def staged(out):
            ctx.tracer.count("iceberg.files_written", len(out["files"]))
            ctx.tracer.count("iceberg.bytes_written", sum(f["file_size_in_bytes"] for f in out["files"]))

        return [
            (lineage, "committed_iceberg_buckets", "lineage.resume_plan", None),
            (IcebergTable, "stage_append", "iceberg.stage_append", staged),
            (IcebergTable, "commit_append", "iceberg.commit", None),
            (IcebergTable, "refresh", "iceberg.refresh", None),
            (IcebergTable, "read", "iceberg.read_plan", None),
        ]

    def layer_metrics(self, ctx: Ctx) -> dict:
        tracer = ctx.tracer
        jobs = max(ctx.notes.get("traced_jobs", 1), 1)
        commits = [s for s in tracer.spans if s["name"] == "iceberg.commit"]
        commit_ids = {id(s) for s in commits}
        retries = sum(
            1
            for s in tracer.spans
            if s["name"] == "iceberg.refresh"
            and s["parent"] is not None
            and id(tracer.spans[s["parent"]]) in commit_ids
        )
        # a batch runs from its transform call to the end of its commit
        starts = sorted(ctx.notes.get("transform_starts", []))
        batches = []
        for c in commits:
            begun = [t for t in starts if t <= c["start"]]
            if begun:
                batches.append(c["end"] - begun[-1])
        out = super().layer_metrics(ctx)
        out.update(
            {
                "lineage.resume_plan_s": sum(tracer.durations("lineage.resume_plan")) / jobs,
                "lineage.batch_s_median": statistics.median(batches) if batches else 0.0,
                "lineage.batch_s_max": max(batches, default=0.0),
                "lineage.table_read_s": sum(tracer.durations("lineage.table_read")) / jobs,
                "iceberg.stage_append_s": sum(tracer.durations("iceberg.stage_append")) / jobs,
                "iceberg.commit_s": sum(tracer.durations("iceberg.commit")) / jobs,
                "iceberg.read_plan_s": sum(tracer.durations("iceberg.read_plan")) / jobs,
                "iceberg.commits": len(commits) / jobs,
                "iceberg.commit_retries": retries / jobs,
                "iceberg.files_written": tracer.counts["iceberg.files_written"] / jobs,
                "iceberg.bytes_written": tracer.counts["iceberg.bytes_written"] / jobs,
                "iceberg.prune_ratio": ctx.notes.get("prune_ratio", 0.0),
            }
        )
        return out

    def cleanup(self, ctx: Ctx) -> None:
        shutil.rmtree(os.path.join(ctx.work_dir, "tables"), ignore_errors=True)


class NearDup(Workload):
    name = "near_dup"
    corpus_kind = "dup"
    why = "shuffle-, join- and connected-components-heavy dedup with Python only in the band-hash UDF"

    def dedup(self, ctx: Ctx, df):
        """exact_dedup, materialized once because minhash_dedup reads its
        input twice (signatures and the join-back), then minhash_dedup."""
        from datatrove_spark.operators import dedup

        with ctx.span("dedup.exact"):
            exact = dedup.exact_dedup(df, text_col="content", id_col="doc_id").persist()
            exact.count()
        with ctx.span("dedup.minhash"):
            out = dedup.minhash_dedup(exact, text_col="content", id_col="doc_id")
        return exact, out

    def warm(self, ctx: Ctx) -> None:
        df = ctx.read().limit(64 * ctx.cores).repartition(ctx.cores)
        exact, out = self.dedup(ctx, df)
        noop(out)
        exact.unpersist()

    def job(self, ctx: Ctx) -> int:
        if "exact" in ctx.notes:
            ctx.notes.pop("exact").unpersist()
        exact, out = self.dedup(ctx, ctx.read())
        with ctx.span("dedup.minhash"):
            decisions = _decisions(out, "content")
        # the last job's exact_dedup output stays cached for the check
        ctx.notes["exact"] = exact
        ctx.notes.setdefault("decisions", []).append(decisions)
        return ctx.n_rows

    def check(self, ctx: Ctx) -> dict:
        import pyarrow.parquet as pq

        problems = []
        table = pq.read_table(ctx.corpus_dir, columns=["doc_id", "content"])
        ids = table.column("doc_id").to_pylist()
        sha_of = {
            d: hashlib.sha256(text.encode("utf-8")).hexdigest()
            for d, text in zip(ids, table.column("content").to_pylist())
        }
        first: dict[str, int] = {}  # content hash → smallest doc id holding it
        for d in ids:
            first[sha_of[d]] = min(first.get(sha_of[d], d), d)
        expected = {d: first[sha_of[d]] == d for d in ids}

        runs = ctx.notes.pop("decisions", [])
        if not runs or "exact" not in ctx.notes:
            return {"problems": ["no job finished"], "keep_f1": 0.0, "checksum": ""}
        decisions = runs[-1]
        if any(d != decisions for d in runs):
            problems.append("jobs of one run decided differently")
        exact = ctx.notes.pop("exact")
        got_exact = {r["doc_id"]: bool(r["keep"]) for r in exact.select("doc_id", "keep").collect()}
        exact.unpersist()
        if set(got_exact) != set(expected) or set(decisions) != set(expected):
            problems.append("exact_dedup or minhash_dedup lost or added rows")
            return {"problems": problems, "keep_f1": 0.0, "checksum": ""}
        wrong = sum(got_exact[d] != want for d, want in expected.items())
        if wrong:
            problems.append(f"exact_dedup disagrees with the driver grouping on {wrong} rows")
        f1 = keep_f1(expected, got_exact)

        planted = corpus_mod.planted_copies(ctx.corpus_dir)
        exact_kept = [j for j, _ in planted["exact"] if decisions[j][0]]
        if exact_kept:
            problems.append(f"{len(exact_kept)} planted exact copies survived")
        near = planted["near"]
        caught = sum(not decisions[j][0] for j, _ in near)
        recall = caught / len(near) if near else 1.0
        if recall < MIN_NEAR_RECALL:
            problems.append(f"minhash_dedup caught {recall:.3f} of planted near copies (< {MIN_NEAR_RECALL})")
        checksum = decision_checksum((k, *v) for k, v in decisions.items())
        problem = _record_checksum(ctx, f"dup:{ctx.seed}:{ctx.n_rows}", checksum)
        if problem:
            problems.append(problem)
        dropped = sum(not v[0] for v in decisions.values())
        ctx.notes["dropped"] = dropped
        natural = sum(not e for e in expected.values()) - len(planted["exact"])
        return {
            "problems": problems,
            "keep_f1": f1,
            "checksum": checksum,
            "dropped": dropped,
            "exact_dropped": sum(not e for e in expected.values()),
            "natural_exact_repeats": natural,
            "planted_exact": len(planted["exact"]),
            "planted_near": len(near),
            "near_recall": recall,
        }

    def layer_metrics(self, ctx: Ctx) -> dict:
        import pyarrow.parquet as pq
        from datatrove_spark.kernels.minhash import (
            DEFAULT_MINHASH,
            minhash_signature_matrix,
            permutation_params,
            signature_band_hashes,
        )

        jobs = max(ctx.notes.get("traced_jobs", 1), 1)
        # the band-hash UDF's body, timed in the driver on the workload's own
        # documents: Spark runs it inside a lazily checkpointed plan whose SQL
        # metrics stay empty
        texts = pq.read_table(ctx.corpus_dir, columns=["content"]).column("content").to_pylist()
        sample = texts[:: max(len(texts) // SAMPLE_ROWS, 1)]
        a, b = permutation_params(DEFAULT_MINHASH)
        t0 = time.perf_counter()
        for sig in minhash_signature_matrix(sample, a, b, DEFAULT_MINHASH):
            if sig is not None:
                signature_band_hashes(sig, DEFAULT_MINHASH)
        band_us = (time.perf_counter() - t0) * 1e6 / len(sample)
        return {
            "dedup.exact_s": sum(ctx.tracer.durations("dedup.exact")) / jobs,
            "dedup.minhash_s": sum(ctx.tracer.durations("dedup.minhash")) / jobs,
            "dedup.band_us_per_doc": band_us,
            "dedup.dropped": ctx.notes.get("dropped", 0),
        }


WORKLOADS = {w.name: w for w in (CodeFilter(), CodeFilterIceberg(), NearDup())}
