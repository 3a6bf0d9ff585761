"""The benchmark's two workloads.

Each workload has the same three timed phases, so every run reports the
same end-to-end metrics:

* ``scan``: a read-only batch pass;
* ``write``: the pass that writes durable state;
* ``incremental``: the pass that reuses that state.

Repeated phases run in interleaved rounds (``timed_rounds``) after one
untimed warm-up round, and report the median of their timed calls. Each
call is timed twice: wall time, and CPU time of the driver, the JVM and
the Python workers (``spans.tree_cpu_s``).

``transcripts`` maps them to the fused extract into the ``noop`` sink,
the checkpointed ``job.main`` (extract, stitch, funnel) and its resume.
``dedup_docs`` maps them to the cosine-LSH pairs pass, the MinHash
index build and the indexed probe. Inputs are generated from the seed
and written to parquet before any timing; the package only sees the
files.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    """(regular files, bytes) under ``path``."""
    n = size = 0
    for base, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(base, f))
    return n, size


def _digest(table: pa.Table, keys: list[str]) -> str:
    table = table.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for col in table.column_names:
        h.update(col.encode())
        h.update(repr(table.column(col).to_pylist()).encode())
    return h.hexdigest()


def _spans_key(spans) -> tuple:
    out = []
    for s in spans if spans is not None else ():
        d = s.asDict() if hasattr(s, "asDict") else s
        out.append((int(d["start"]), int(d["end"]), d["label"], bool(d["kept"])))
    return tuple(out)


def _turn_rows(pdf) -> list[tuple]:
    return sorted(
        (
            r.conv_id, int(r.turn_idx), r.extracted_text, _spans_key(r.spans),
            int(r.n_blocks_kept), int(r.n_blocks_dropped), int(r.chars_extracted),
        )
        for r in pdf.itertuples(index=False)
    )


def _mismatches(got: list, want: list) -> int:
    """Rows present on one side only (multiset), or a length gap."""
    from collections import Counter

    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


MIN_ROUNDS = 3


def n_rounds(seconds: float, round_s: float) -> int:
    """Timed rounds for a run of ``seconds``: ``seconds`` ÷ the
    workload's nominal round time (4 CPUs, ``local[2]``), and at least
    MIN_ROUNDS.

    The count depends on ``seconds`` only, never on how fast this run
    goes, so every run of a workload does the same work and its job
    counts repeat exactly."""
    return max(MIN_ROUNDS, round(seconds / round_s))


def timed_rounds(rounds: int, steps: dict) -> tuple[dict, dict]:
    """Wall and CPU time of every call of each step (name -> callable):
    one warm-up round, then ``rounds`` timed rounds. Element 0 of each
    list is the warm-up call.

    The steps are interleaved, so each step's samples spread over the
    whole run and a burst of load on the shared host slows one sample of
    several steps, not every sample of one step; callers report the
    median of the timed calls."""
    from spans import tree_cpu_s

    walls: dict[str, list[float]] = {name: [] for name in steps}
    cpus: dict[str, list[float]] = {name: [] for name in steps}
    for _ in range(rounds + 1):
        for name, fn in steps.items():
            c0, t0 = tree_cpu_s(), time.perf_counter()
            fn()
            walls[name].append(time.perf_counter() - t0)
            cpus[name].append(tree_cpu_s() - c0)
    return walls, cpus


def timed_median(values: list[float]) -> float:
    """Median of the timed calls, leaving out the warm-up call."""
    return statistics.median(values[1:])


class Checks:
    """Untimed correctness checks; each counts as one operation."""

    def __init__(self):
        self.results: list[dict] = []

    def run(self, name: str, fn) -> None:
        try:
            bad = int(fn())
            detail = "" if bad == 0 else f"{bad} mismatches"
        except Exception as exc:  # a raising check is a failed operation
            bad, detail = 1, f"{type(exc).__name__}: {exc}"[:300]
        self.results.append({"check": name, "ok": bad == 0, "detail": detail})

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.results)


def kernel_pass(texts, turn_idxs) -> dict:
    """Single-core, Spark-free pass of the extraction kernel: µs per
    turn by payload kind and blocks per turn (a count of work done)."""
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.extract import (
        extract_turn_full,
    )
    from ocr_pipeline_fastapi_latency_optimization_spark.functions.tokenize import (
        classify_payload,
    )

    per_kind: dict[str, list[float]] = {"pdf": [], "html": [], "plain": []}
    blocks = 0
    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(old)})
    try:
        for text, idx in zip(texts, turn_idxs):
            kind = classify_payload(text)
            t0 = time.perf_counter()
            r = extract_turn_full(text, int(idx))
            per_kind[kind].append(time.perf_counter() - t0)
            blocks += r["n_blocks_kept"] + r["n_blocks_dropped"]
    finally:
        os.sched_setaffinity(0, old)
    out = {
        f"functions.us_per_turn.{k}": 1e6 * statistics.fmean(v) if v else 0.0
        for k, v in per_kind.items()
    }
    out["functions.blocks_per_turn"] = blocks / max(1, len(texts))
    return out


class Transcripts:
    """Transcript corpus in the generator's native payload mix (40%
    plain, 35% html, 20% pdf-layout, 5% mangled) plus one planted long
    conversation, longer than the salted stitch's 4096-turn chunk."""

    name = "transcripts"
    N_CONVS = 400
    MEAN_TURNS = 6
    SKEW_CONV = "conv000007"
    SKEW_TURNS = 4200
    BUCKETS = 2
    # several input files per core: a core slowed by a neighbour on the
    # host delays one small task, not a quarter of the scan
    FILES_PER_CORE = 4
    # nominal wall of one timed round (an extract pass and a resume)
    ROUND_S = 3.3
    KERNEL_SAMPLE = 2000

    def __init__(self, tmp: str, seed: int, cores: int):
        self.tmp, self.seed, self.cores = tmp, seed, cores
        self.input = os.path.join(tmp, "transcripts")
        self.out = os.path.join(tmp, "job", "out")
        self.ckpt = os.path.join(tmp, "job", "ckpt")
        self.extracted = None

    def prepare_static(self) -> None:
        pass

    def prepare_spark(self, spark) -> dict:
        from ocr_pipeline_fastapi_latency_optimization_spark.functions.tokenize import (
            classify_payload,
        )
        from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
            gen_transcripts_spark,
        )

        gen_transcripts_spark(
            spark, self.N_CONVS, self.MEAN_TURNS, seed=self.seed,
            skew_conv=self.SKEW_CONV, skew_turns=self.SKEW_TURNS,
            partitions=self.cores,
        ).repartition(self.FILES_PER_CORE * self.cores, "conv_id", "turn_idx").write.mode(
            "overwrite"
        ).parquet(self.input)
        table = pq.read_table(self.input)
        self.pdf = table.to_pandas()
        self.n_turns = len(self.pdf)
        kinds = [classify_payload(t) for t in self.pdf["text"]]
        self.kind_counts = {k: kinds.count(k) for k in ("plain", "html", "pdf")}
        return {
            "turns": self.n_turns,
            "conversations": int(self.pdf["conv_id"].nunique()),
            "bytes": _dir_stats(self.input)[1],
            "kind_mix": {k: v / self.n_turns for k, v in self.kind_counts.items()},
            "skew_turns": self.SKEW_TURNS,
            "buckets": self.BUCKETS,
            "digest": _digest(table.select(["conv_id", "turn_idx", "text"]),
                              ["conv_id", "turn_idx"]),
        }

    def _job_args(self, *extra: str) -> list[str]:
        return [
            "--input", self.input, "--output", self.out,
            "--checkpoint", self.ckpt, "--run-id", "bench",
            "--buckets", str(self.BUCKETS), "--cpus", str(self.cores),
            "--concurrency", "1", *extra,
        ]

    def _job(self, spark, spans, phase: str, *extra: str) -> float:
        """One in-process ``job.main`` with the package's checkpoint,
        stitch and funnel entry points wrapped in spans of ``phase``."""
        from ocr_pipeline_fastapi_latency_optimization_spark import job
        from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
            curation,
            extraction,
        )
        from ocr_pipeline_fastapi_latency_optimization_spark.plans import checkpoint

        undo = [
            spans.wrap(checkpoint, "run_with_checkpoint",
                       f"{phase}:checkpoint.run_with_checkpoint"),
            spans.wrap(checkpoint, "input_fingerprint",
                       f"{phase}:checkpoint.input_fingerprint"),
            spans.wrap(checkpoint, "lineage_metrics",
                       f"{phase}:checkpoint.lineage_metrics", lazy=True),
            spans.wrap(extraction, "stitch_conversations_salted",
                       f"{phase}:extraction.stitch_conversations_salted", lazy=True),
            spans.wrap(curation, "funnel_over_turns",
                       f"{phase}:curation.funnel_over_turns", lazy=True),
        ]
        try:
            t0 = time.perf_counter()
            with spans.span(f"{phase}:job.main"), contextlib.redirect_stdout(
                io.StringIO()
            ):
                rc = job.main(self._job_args(*extra))
            wall = time.perf_counter() - t0
        finally:
            for u in undo:
                u()
            # job.main's get_spark resets shuffle partitions on the live
            # session; put the benchmark's setting back
            spark.conf.set("spark.sql.shuffle.partitions", str(self.cores))
        if rc != 0:
            raise RuntimeError(f"job.main returned {rc}")
        return wall

    def _scan_pass(self, spark, spans, phase: str):
        from ocr_pipeline_fastapi_latency_optimization_spark.operators.extraction import (
            extract_pipeline,
        )
        from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
            read_transcripts,
        )

        corpus = read_transcripts(spark, self.input)

        def one_pass():
            with spans.span(f"{phase}:extraction.extract_pipeline"):
                frame = extract_pipeline(corpus)
                if self.extracted is None:
                    # the first, untimed pass collects what the checks read
                    self.extracted = frame.toPandas()
                else:
                    _noop(frame)

        return one_pass

    def scan(self, spark, spans, phase: str) -> list[float]:
        """A warm-up and a timed extract pass alone: the untraced base of
        the tracing overhead."""
        return timed_rounds(1, {"scan": self._scan_pass(spark, spans, phase)})[0]["scan"]

    def measure(self, spark, spans, seconds: float) -> dict:
        """The checkpointed job once on a fresh checkpoint (its plans'
        cold start included, as a production run pays it), then rounds of
        an extract pass and a resume."""
        from spans import tree_cpu_s

        cpu0 = tree_cpu_s()
        write = self._job(spark, spans, "write", "--stitch", "--funnel")
        write_cpu = tree_cpu_s() - cpu0
        lineage = pq.read_table(
            os.path.join(self.ckpt, "lineage"), partitioning=None).to_pandas()
        self.bucket_turns = {
            int(b): int(n) for b, n in zip(lineage["bucket"], lineage["n_turns"])}
        self.extracted = None
        walls, cpus = timed_rounds(n_rounds(seconds, self.ROUND_S), {
            "scan": self._scan_pass(spark, spans, "scan"),
            "incremental": lambda: self._job(spark, spans, "incremental"),
        })
        scan, resume = timed_median(walls["scan"]), timed_median(walls["incremental"])
        return {
            "ops": 1 + sum(map(len, walls.values())),
            "turns_per_bucket": self.bucket_turns,
            "walls": walls,
            "cpus": cpus,
            "scan_s": scan,
            "scan_rate": self.n_turns / scan,
            "write_s": write,
            "incremental_s": resume,
            "scan_cpu_s": timed_median(cpus["scan"]),
            "write_cpu_s": write_cpu,
            "incremental_cpu_s": timed_median(cpus["incremental"]),
            "named": {
                "extract_turns_per_s": (self.n_turns / scan, "turns/s"),
                "job_turns_per_s": (self.n_turns / write, "turns/s"),
                "resume_s": (resume, "s"),
            },
        }

    def extra(self, spark, spans) -> None:
        pass

    def check(self, spark, spans, trace: bool, checks: Checks) -> None:
        from ocr_pipeline_fastapi_latency_optimization_spark import oracle

        want_pdf = oracle.extract_frame(self.pdf)
        want = _turn_rows(want_pdf)

        def extract_equal():
            return _mismatches(_turn_rows(self.extracted), want)

        def job_equal():
            got = pq.read_table(self.out).to_pandas()
            return _mismatches(_turn_rows(got), want)

        def stitch_equal():
            got = pq.read_table(self.out + "_conversations").to_pandas()
            exp = oracle.stitch_frame(want_pdf)
            rows = lambda d: [  # noqa: E731
                (r.conv_id, int(r.n_turns), int(r.chars_extracted), r.conversation_text)
                for r in d.itertuples(index=False)
            ]
            return _mismatches(rows(got), rows(exp))

        def lineage_turns():
            return abs(sum(self.bucket_turns.values()) - self.n_turns)

        def all_buckets_then_none():
            first = spans.results["write:checkpoint.run_with_checkpoint"][-1]
            again = spans.results["incremental:checkpoint.run_with_checkpoint"]
            return int(first != list(range(self.BUCKETS))) + sum(map(len, again))

        checks.run("extract_pipeline == oracle.extract_frame", extract_equal)
        checks.run("job output == oracle.extract_frame", job_equal)
        checks.run("stitch == oracle.stitch_frame", stitch_equal)
        checks.run("lineage n_turns == input turns", lineage_turns)
        checks.run("resume processes 0 buckets", all_buckets_then_none)

    def layers(self, groups: dict, spans, phases: dict, kernel: dict) -> dict:
        """Workload-specific layer metrics (traced runs)."""
        from spans import aggregate

        n_files = n_bytes = 0
        for d in (os.path.join(self.ckpt, "staging"), self.out,
                  os.path.join(self.ckpt, "lineage")):
            f, b = _dir_stats(d)
            n_files, n_bytes = n_files + f, n_bytes + b
        scan = aggregate(groups, ["scan:extraction.extract_pipeline"])
        passes = len(phases["walls"]["scan"])
        run_per_scan = scan.get("executor_run_s", 0.0) / passes
        kernel_s = sum(
            kernel[f"functions.us_per_turn.{k}"] * 1e-6 * n
            for k, n in self.kind_counts.items()
        )
        ckpt_jobs = groups.get("write:checkpoint.run_with_checkpoint", {})
        return {
            "extraction.kernel_share": kernel_s / run_per_scan if run_per_scan else 0.0,
            "extraction.python_bytes": scan.get("python_bytes", 0) / passes,
            "checkpoint.input_fingerprint_s": spans.walls[
                "incremental:checkpoint.input_fingerprint"][-1],
            "checkpoint.jobs_per_bucket": ckpt_jobs.get("n_jobs", 0) / self.BUCKETS,
            "checkpoint.write_amp": n_bytes / _dir_stats(self.input)[1],
            "checkpoint.files_written": n_files,
        }

    def kernel_inputs(self):
        rng = random.Random(self.seed)
        idx = sorted(rng.sample(range(self.n_turns), min(self.KERNEL_SAMPLE, self.n_turns)))
        return self.pdf["text"].iloc[idx].tolist(), self.pdf["turn_idx"].iloc[idx].tolist()

    # calls of each phase, named as the package names them
    calls = {
        "scan": ["scan:extraction.extract_pipeline"],
        "write": [
            "write:job.main",
            "write:checkpoint.run_with_checkpoint",
            "write:checkpoint.input_fingerprint",
            "write:checkpoint.lineage_metrics",
            "write:extraction.stitch_conversations_salted",
            "write:curation.funnel_over_turns",
        ],
        "extra": [],
        "incremental": [
            "incremental:job.main",
            "incremental:checkpoint.run_with_checkpoint",
            "incremental:checkpoint.input_fingerprint",
            "incremental:checkpoint.lineage_metrics",
        ],
    }


class DedupDocs:
    """The committed documents table (the sf0.01 test table) plus a
    seeded 5% of planted near-copies of pre-boundary documents, and the
    embeddings table plus as many planted near-copy vectors."""

    name = "dedup_docs"
    PLANT_SHARE = 0.05
    # nominal wall of one timed round (an LSH pass, a build and a probe)
    ROUND_S = 7.5

    def __init__(self, tmp: str, seed: int, cores: int):
        self.tmp, self.seed, self.cores = tmp, seed, cores
        self.sf = os.path.join(tmp, "sf")

    def prepare_static(self) -> dict:
        import numpy as np

        from ocr_pipeline_fastapi_latency_optimization_spark.operators.dedup import (
            INGEST_BOUNDARY,
        )

        rng = random.Random(self.seed)
        docs = pq.read_table(os.path.join(HERE, "data", "documents.parquet"))
        emb = pq.read_table(os.path.join(HERE, "data", "embeddings.parquet"))
        d = docs.to_pydict()
        k = round(self.PLANT_SHARE * docs.num_rows)
        pool = [
            i for i, (doc_id, text) in enumerate(zip(d["doc_id"], d["text"]))
            if doc_id < INGEST_BOUNDARY and len(text.split()) >= 12
        ]
        next_id = max(d["doc_id"]) + 1
        self.doc_pairs = []
        for n, i in enumerate(sorted(rng.sample(pool, k))):
            words = d["text"][i].split()
            text = d["text"][i] + " " + rng.choice(words)
            for col, val in (("doc_id", next_id + n), ("text", text),
                             ("lang", d["lang"][i]), ("source", d["source"][i]),
                             ("n_chars", len(text))):
                d[col].append(val)
            self.doc_pairs.append((d["doc_id"][i], next_id + n))
        e = emb.to_pydict()
        next_vec = max(e["vec_id"]) + 1
        nrng = np.random.default_rng(self.seed)
        self.vec_pairs = []
        for n, i in enumerate(sorted(rng.sample(range(emb.num_rows), k))):
            v = np.asarray(e["embedding"][i], dtype=np.float32)
            v = v + nrng.normal(0.0, 0.002, v.shape).astype(np.float32)
            e["vec_id"].append(next_vec + n)
            e["embedding"].append(v.tolist())
            e["label"].append(e["label"][i])
            self.vec_pairs.append((e["vec_id"][i], next_vec + n))
        os.makedirs(self.sf)
        docs_t = pa.table(d, schema=docs.schema)
        emb_t = pa.table(e, schema=emb.schema)
        pq.write_table(docs_t, os.path.join(self.sf, "documents.parquet"))
        pq.write_table(emb_t, os.path.join(self.sf, "embeddings.parquet"))
        self.boundary = INGEST_BOUNDARY
        self.n_docs = docs_t.num_rows
        self.n_vecs = emb_t.num_rows
        return {
            "documents": docs_t.num_rows,
            "embeddings": emb_t.num_rows,
            "planted_doc_copies": len(self.doc_pairs),
            "planted_vec_copies": len(self.vec_pairs),
            "pre_boundary_docs": sum(1 for x in d["doc_id"] if x < self.boundary),
            "bytes": _dir_stats(self.sf)[1],
            "digest": hashlib.sha256(
                (_digest(docs_t, ["doc_id"]) + _digest(emb_t, ["vec_id"])).encode()
            ).hexdigest(),
        }

    def prepare_spark(self, spark) -> dict:
        return {}

    def _scan_pass(self, spark, spans, phase: str):
        """Forced by collecting the candidate pairs, which the checks read."""
        from ocr_pipeline_fastapi_latency_optimization_spark.operators import similarity

        def one_pass():
            with spans.span(f"{phase}:similarity.cosine_lsh_pairs"):
                self.pairs = similarity.cosine_lsh_pairs(spark, self.sf).toPandas()

        return one_pass

    def scan(self, spark, spans, phase: str) -> list[float]:
        """A warm-up and a timed LSH pass alone: the untraced base of the
        tracing overhead."""
        return timed_rounds(1, {"scan": self._scan_pass(spark, spans, phase)})[0]["scan"]

    def _pre_boundary(self, spark):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(os.path.join(self.sf, "documents.parquet"))
        return docs.filter(F.col("doc_id") < self.boundary)

    def measure(self, spark, spans, seconds: float) -> dict:
        """Rounds of an LSH pass, an index build into a fresh table and a
        probe of that table."""
        from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

        self.probes, self.index_name = [], None

        def build():
            i = len(spans.walls["write:dedup.persist_minhash_index"])
            self.index_path = os.path.join(self.tmp, f"minhash_idx{i}")
            with spans.span("write:dedup.persist_minhash_index"):
                dedup.persist_minhash_index(
                    spark, self._pre_boundary(spark), f"perfbench_mh{i}", self.index_path)
            self.index_name = f"perfbench_mh{i}"

        def probe():
            with spans.span("incremental:dedup.incremental_minhash_dedup"):
                self.probes.append(dedup.incremental_minhash_dedup(
                    spark, self.sf, index_table=self.index_name).toPandas())

        walls, cpus = timed_rounds(n_rounds(seconds, self.ROUND_S), {
            "scan": self._scan_pass(spark, spans, "scan"),
            "write": build,
            "incremental": probe,
        })
        scan, build_s, probe_s = (timed_median(walls[k]) for k in ("scan", "write", "incremental"))
        return {
            "ops": sum(map(len, walls.values())),
            "walls": walls,
            "cpus": cpus,
            "scan_s": scan,
            "scan_rate": self.n_vecs / scan,
            "write_s": build_s,
            "incremental_s": probe_s,
            **{f"{k}_cpu_s": timed_median(v) for k, v in cpus.items()},
            "named": {
                "cosine_lsh_s": (scan, "s"),
                "index_build_s": (build_s, "s"),
                "index_probe_s": (probe_s, "s"),
            },
        }

    def extra(self, spark, spans) -> None:
        """Traced runs only: the MinHash batch dedup and the clustered
        text index, whose cold passes (5-15 s each here) the untraced
        runs cannot afford."""
        from ocr_pipeline_fastapi_latency_optimization_spark.operators import (
            dedup,
            embedding,
        )

        with spans.span("extra:dedup.verified_near_dedup"):
            self.verified = dedup.verified_near_dedup(spark, self.sf).toPandas()
        self.clu_path = os.path.join(self.tmp, "clustered_idx")
        with spans.span("extra:embedding.persist_text_clustered_index"):
            embedding.persist_text_clustered_index(
                spark, self._pre_boundary(spark), "perfbench_clu", self.clu_path)
        with spans.span("extra:embedding.incremental_text_clustered_dedup"):
            self.clu_probe = embedding.incremental_text_clustered_dedup(
                spark, self.sf, index_table="perfbench_clu").toPandas()

    def check(self, spark, spans, trace: bool, checks: Checks) -> None:
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.sf, t + '.parquet')}'"
            )
        sql = entry.oracle_sql()

        def canon(v):
            if isinstance(v, float):
                return repr(round(v, 9))
            if hasattr(v, "item"):
                return canon(v.item())
            return str(v)

        def rows(cols, values):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return ["|".join(canon(r[i]) for i in order) for r in values]

        def twin(query: str, got):
            def run():
                cur = con.execute(sql[query])
                want = rows([x[0] for x in cur.description], cur.fetchall())
                have = rows(list(got.columns), got.itertuples(index=False, name=None))
                return _mismatches(have, want)
            return run

        def flagged(frame, verdict):
            def run():
                v = dict(zip(frame["doc_id"], frame["verdict"]))
                return sum(v.get(b) != verdict for _, b in self.doc_pairs)
            return run

        def same_cluster(frame):
            def run():
                c = dict(zip(frame["doc_id"], frame["cluster_id"]))
                return sum(c[a] != c[b] for a, b in self.doc_pairs)
            return run

        def lsh_recall():
            pairs = set(zip(self.pairs["id_a"], self.pairs["id_b"]))
            return sum((a, b) not in pairs for a, b in self.vec_pairs)

        def probes_agree():
            key = lambda d: sorted(zip(d["doc_id"], d["verdict"]))  # noqa: E731
            return sum(_mismatches(key(p), key(self.probes[0])) for p in self.probes)

        probe = self.probes[-1]
        checks.run("similarity.cosine_lsh_pairs == DuckDB twin",
                   twin("cosine_lsh_pairs", self.pairs))
        checks.run("similarity.cosine_lsh_pairs recalls planted copies", lsh_recall)
        checks.run("indexed MinHash probe == DuckDB twin of the in-memory path",
                   twin("incremental_minhash_dedup", probe))
        checks.run("indexed MinHash probe flags planted copies",
                   flagged(probe, "near_dup_candidate"))
        checks.run("repeated probes agree", probes_agree)
        if not trace:
            return

        from ocr_pipeline_fastapi_latency_optimization_spark.operators import dedup

        def minhash_equal():
            with spans.span("check:in_memory_minhash_probe"):
                mem = dedup.incremental_minhash_dedup(spark, self.sf).toPandas()
            key = lambda d: sorted(zip(d["doc_id"], d["verdict"]))  # noqa: E731
            return _mismatches(key(probe), key(mem))

        checks.run("indexed MinHash probe == in-memory path", minhash_equal)
        checks.run("dedup.verified_near_dedup recalls planted copies",
                   same_cluster(self.verified))
        checks.run("indexed clustered probe == DuckDB twin of the in-memory path",
                   twin("incremental_text_clustered_dedup", self.clu_probe))

    def layers(self, groups: dict, spans, phases: dict, kernel: dict) -> dict:
        def index_layer(prefix, path, group):
            n_files = sum(1 for _, _, fs in os.walk(path)
                          for f in fs if f.endswith(".parquet"))
            probes = len(spans.walls[group])
            return {
                f"{prefix}.index_bytes": _dir_stats(path)[1],
                f"{prefix}.index_files": n_files,
                # files one probe's scans open ÷ files in the index;
                # above 1 when a probe scans the index more than once
                f"{prefix}.probe_files_share":
                    groups.get(group, {}).get("files_read", 0) / probes / max(1, n_files),
            }

        # the clustered family may lose a pair whose top-2 clusters
        # differ (operators/embedding.py), so its recall is recorded,
        # not required
        v = dict(zip(self.clu_probe["doc_id"], self.clu_probe["verdict"]))
        return {
            **index_layer("dedup", self.index_path,
                          "incremental:dedup.incremental_minhash_dedup"),
            **index_layer("embedding", self.clu_path,
                          "extra:embedding.incremental_text_clustered_dedup"),
            "embedding.clustered_probe_recall": sum(
                v.get(b) == "near_dup" for _, b in self.doc_pairs) / len(self.doc_pairs),
        }

    def kernel_inputs(self):
        from ocr_pipeline_fastapi_latency_optimization_spark.sources.transcripts import (
            gen_transcripts,
        )

        pdf = gen_transcripts(n_convs=200, mean_turns=10, seed=self.seed)
        return pdf["text"].tolist(), pdf["turn_idx"].tolist()

    calls = {
        "scan": ["scan:similarity.cosine_lsh_pairs"],
        "write": ["write:dedup.persist_minhash_index"],
        "incremental": ["incremental:dedup.incremental_minhash_dedup"],
        "extra": [
            "extra:dedup.verified_near_dedup",
            "extra:embedding.persist_text_clustered_index",
            "extra:embedding.incremental_text_clustered_dedup",
        ],
    }


WORKLOADS = {w.name: w for w in (Transcripts, DedupDocs)}
