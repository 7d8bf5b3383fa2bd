"""One seeded benchmark of mitie_spark: pages → triples → queries.

    python3 perfbench/run.py --workload pipeline_uniform --seed 1 \
        --seconds 24 --trace 0

Run from the repository root. Each run:

1. writes two corpora of the workload's kind from ``--seed``: a
   SETUP_PAGES-page setup corpus (seed + SETUP_SEED_OFFSET) and a timed
   corpus of PAGES_PER_SECOND × ``--seconds`` pages (seed);
2. set-up (``setup_s``): starts a ``local[k]`` session (k ≤ 4 cores) and
   runs the extraction UDF over the setup corpus, which spawns the Python
   workers and loads the models in each;
3. timed: one ``run_pipeline`` pass (``force=True``, fresh output dir) over
   the timed corpus, whose texts the warm workers have not seen, then
   QUERY_ROUNDS rounds of the query mix against the KG that pass wrote,
   from one closed-loop client (``query_mix_s`` sums each shape's median
   latency);
4. checks the outputs and prints one JSON result as its last line.

``--trace 1`` is a separate run with the same set-up that records spans
around the program's public functions (see trace.py) and prints the
per-layer metrics instead: the pipeline stages (with Spark's event log on),
the layers of ``extract_documents_batch`` run in this process over the
timed corpus, and the query shapes. Spans and metrics are written to
``.perfbench_work/traces/``.

A pass or query that raises or returns a wrong answer counts in
``failed`` and stays in ``attempted``; ``correct`` is false if anything
failed or any check below did not hold:

- triple precision and recall of every pipeline pass ≥ MIN_PR, against
  planted truth restricted to the pages the pipeline's ``lang="en"``
  filter keeps;
- the ``_summary`` row counts of a corpus equal those of every earlier
  pass over the same corpus (kept in ``.perfbench_work/summaries``);
- in ``pipeline_recrawl``, every re-crawled page's triples equal its
  original's;
- every query answer equals the shape's answer in the first round;
- traced runs only: the in-process extraction output equals stage ``kg``
  row for row, and the extraction layers' self times sum to within 10% of
  the traced loop's wall time.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_PAGES = 64
SETUP_SEED_OFFSET = 1_000_003
# the timed corpus grows with --seconds; at 24 s, 1200 pages
PAGES_PER_SECOND = 50
# every round runs each query shape once; query_mix_s sums the shapes'
# median latencies, so one slow round (the first is the coldest) or a
# burst of host noise does not move it
QUERY_ROUNDS = 5
ARROW_BATCH = 2048  # session.DEFAULT_CONF maxRecordsPerBatch
MIN_PR = 0.95
CORES = min(4, len(os.sched_getaffinity(0)))
WORK = os.path.join(ROOT, ".perfbench_work")

STAGES = (
    "verify_text", "kg", "mentions", "triples_raw", "linked",
    "components", "triples", "entity_rank",
)
STAGE_FIELDS = {
    "wall_s": "s", "write_s": "s", "readback_s": "s",
    "task_p50_ms": "ms", "task_max_ms": "ms",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "output_rows": "count",
}
SHAPES = (
    "bgp_person_org", "two_hop", "path_contains_plus", "top_pairs",
    "entity_lookup",
)
# extraction layers, named after the module and public function the
# traced run wraps
EXTRACTION_LAYERS = (
    "tokenizer.tokenize", "ner_model.X", "ner_model.segment_batch",
    "ner_model.classify_chunks_batch", "relation_model.detect_batch",
    "extraction.extract_documents_batch", "extraction.to_arrow",
)


def per_layer_units() -> dict[str, str]:
    """Every metric a traced run prints, with its unit."""
    units = {f"{layer}.self_s": "s" for layer in EXTRACTION_LAYERS}
    units.update({
        "tokenizer.tokens": "count",
        "ner_model.chunks": "count",
        "ner_model.chunk_cache_hit_ratio": "ratio",
        "relation_model.pairs": "count",
        "relation_model.window_cache_hit_ratio": "ratio",
        "relation_model.feat_cache_hit_ratio": "ratio",
        "extraction.docs": "count",
        "extraction.layer_sum_ratio": "ratio",
        "extraction.untraced_docs_per_s": "docs/s",
        "extraction.traced_docs_per_s": "docs/s",
    })
    for st in STAGES:
        units.update({f"stage.{st}.{f}": u for f, u in STAGE_FIELDS.items()})
    units.update({
        "webgraph.pagerank.wall_s": "s",
        "pipeline.outside_stages_s": "s",
        "pipeline.traced_docs_per_s": "docs/s",
        "kgquery.match_patterns.plan_s": "s",
    })
    for sh in SHAPES:
        units[f"query.{sh}.p50_s"] = "s"
        units[f"query.{sh}.shuffle_write_bytes"] = "bytes"
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "worker_rss_peak_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
    "query_mix_s": "s",
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- session


def start_spark(run_dir: str, event_dir: str | None):
    from mitie_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM and its Python workers, and
    wait until each process has ended."""
    from perfbench.procstat import python_worker_pids

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = python_worker_pids(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if not _pid_gone(p)]
        time.sleep(0.05)
    for pid in workers:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def _pid_gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] in ("Z", "X")
    except OSError:
        return True


# ---------------------------------------------------------------- checks


def triple_pr(corpus_dir: str, out_dir: str) -> tuple[float, float]:
    """Precision and recall of distinct (url, subj, pred, obj) in stage
    triples_raw against the planted truth of the pages kept by the
    pipeline's ``lang="en"`` filter."""
    cols = ["url", "subj", "pred", "obj"]
    pages = pd.read_parquet(
        os.path.join(corpus_dir, "pages.parquet"), columns=["url", "lang"]
    )
    en = set(pages["url"][pages["lang"] == "en"])
    truth = pd.read_parquet(os.path.join(corpus_dir, "triples_true.parquet"))
    truth = truth[truth["url"].isin(en)]
    got = pd.read_parquet(os.path.join(out_dir, "triples_raw"), columns=cols)
    t = set(truth[cols].astype(str).itertuples(index=False, name=None))
    g = set(got[cols].astype(str).itertuples(index=False, name=None))
    hit = len(t & g)
    return hit / max(len(g), 1), hit / max(len(t), 1)


def recrawl_mismatches(corpus_dir: str, out_dir: str) -> int:
    """Re-crawled pages whose triples differ from their original's."""
    from perfbench.workloads import recrawl_map

    pairs = recrawl_map(corpus_dir)
    if not pairs:
        return 0
    got = pd.read_parquet(os.path.join(out_dir, "triples_raw"),
                          columns=["url", "subj", "pred", "obj", "score"])
    by_url: dict[str, list] = {}
    for row in got.astype({"pred": str}).itertuples(index=False, name=None):
        by_url.setdefault(row[0], []).append(row[1:])
    return sum(
        sorted(by_url.get(u, [])) != sorted(by_url.get(o, []))
        for u, o in pairs.items()
    )


def summary_repeats(workload: str, corpus_seed: int, n_pages: int,
                    summary: dict) -> bool:
    """True unless an earlier pass over the same corpus recorded other
    ``_summary`` row counts; the first pass records them."""
    path = os.path.join(
        WORK, "summaries", f"{workload}-{corpus_seed}-{n_pages}.json"
    )
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f) == summary
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(summary, f)
    os.replace(path + ".tmp", path)
    return True


# ---------------------------------------------------------------- queries


def digest(df) -> tuple:
    """Order-insensitive answer digest: row count and the sum of row
    hashes (shifted so the sum cannot overflow)."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.shiftright(F.xxhash64(*df.columns), 24)),
    ).first()
    return tuple(row)


def query_mix(spark, kg_dir: str, seed: int) -> dict:
    """shape → zero-argument function building the query's DataFrame
    against the stage tables in ``kg_dir``."""
    from pyspark.sql import functions as F

    from mitie_spark.operators import kgquery

    raw = spark.read.parquet(os.path.join(kg_dir, "triples_raw")).select(
        "subj", "pred", "obj"
    )
    canon = spark.read.parquet(os.path.join(kg_dir, "triples"))
    ranks = pd.read_parquet(os.path.join(kg_dir, "entity_rank")).sort_values(
        ["rank", "entity_id"], ascending=[False, True]
    )
    entity = random.Random(seed).choice(list(ranks["entity_id"][:10]))

    def two_hop():
        born = raw.where(F.col("pred") == "born_in").select(
            F.col("subj").alias("person"), F.col("obj").alias("city")
        )
        cont = raw.where(F.col("pred") == "contains").select(
            F.col("subj").alias("country"), F.col("obj").alias("city")
        ).distinct()
        return born.join(cont, "city").groupBy("person", "country").count()

    # kgquery.match_patterns is looked up at call time so the traced run
    # can wrap it
    return {
        "bgp_person_org": lambda: kgquery.match_patterns(
            raw,
            [("?person", "born_in", "?city"), ("?country", "contains", "?city")],
            optional=[("?person", "works_for", "?org")],
        ),
        "two_hop": two_hop,
        "path_contains_plus": lambda: kgquery.match_patterns(
            raw, [("?a", "contains+", "?b")]
        ),
        "top_pairs": lambda: canon.orderBy(
            F.desc("n_evidence"), "subj_id", "pred", "obj_id"
        ).limit(20),
        "entity_lookup": lambda: canon.where(
            (F.col("subj_id") == entity) | (F.col("obj_id") == entity)
        ),
    }


# ---------------------------------------------------------------- runs


class Run:
    """One benchmark run: set-up, then the timed or the traced part."""

    def __init__(self, args, run_dir: str, spec: dict):
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.spec = spec
        self.run_dir = run_dir
        self.n_timed = PAGES_PER_SECOND * args.seconds
        self.setup_seed = args.seed + SETUP_SEED_OFFSET
        self.setup_corpus = os.path.join(run_dir, "corpus-setup")
        self.timed_corpus = os.path.join(run_dir, "corpus-timed")
        self.event_dir = os.path.join(run_dir, "events") if self.trace else None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.notes: list[str] = []
        self.props: dict = {}

    def problem(self, what: str) -> None:
        self.problems.append(what)
        log(f"CHECK FAILED: {what}")

    # -- pipeline passes

    def pipeline_pass(self, spark, corpus_dir: str, name: str):
        from mitie_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.run_dir, f"out-{name}")
        rep = run_pipeline(
            spark,
            os.path.join(corpus_dir, "pages.parquet"),
            os.path.join(corpus_dir, "alias_dict.parquet"),
            out,
            force=True,
        )
        return out, rep

    def check_pass(self, corpus_dir, corpus_seed, n_pages, out, rep, name):
        """→ (precision, recall, every check held); records each check
        that fails."""
        ok = True
        p, r = triple_pr(corpus_dir, out)
        if p < MIN_PR or r < MIN_PR:
            self.problem(f"{name} pass: triple P={p:.5f} R={r:.5f} < {MIN_PR}")
            ok = False
        if not summary_repeats(self.workload, corpus_seed, n_pages, rep["_summary"]):
            self.problem(f"{name} pass: _summary {rep['_summary']} differs "
                         "from an earlier pass over the same corpus")
            ok = False
        bad = recrawl_mismatches(corpus_dir, out)
        if bad:
            self.problem(f"{name} pass: {bad} re-crawled pages' triples "
                         "differ from their original's")
            ok = False
        return p, r, ok

    # -- queries

    def query_rounds(self, queries: dict, tracer=None):
        """QUERY_ROUNDS round-robin rounds of the query mix from one
        closed-loop client → shape → latencies of its correct answers. The
        first round's answers are the reference for the later rounds."""
        from perfbench.trace import job_group

        reference: dict[str, tuple] = {}
        lat: dict[str, list[float]] = {name: [] for name in queries}
        for _ in range(QUERY_ROUNDS):
            for name, build in queries.items():
                self.attempted += 1
                ctx = contextlib.ExitStack()
                if tracer is not None:
                    ctx.enter_context(job_group(self.sc, f"query.{name}"))
                    ctx.enter_context(tracer.span(f"query.{name}"))
                t = time.perf_counter()
                try:
                    with ctx:
                        answer = digest(build())
                except Exception:
                    self.failed += 1
                    log(f"query {name} raised:\n{traceback.format_exc()}")
                    continue
                dt = time.perf_counter() - t
                if reference.setdefault(name, answer) != answer:
                    self.failed += 1
                    self.problem(f"query {name}: answer {answer} != first "
                                 f"answer {reference[name]}")
                    continue
                lat[name].append(dt)
        return lat

    # -- the run

    def execute(self) -> tuple[dict, list[str]]:
        from perfbench.workloads import write_corpus

        write_corpus(self.workload, self.setup_corpus, SETUP_PAGES, self.setup_seed)
        write_corpus(self.workload, self.timed_corpus, self.n_timed, self.seed)
        if self.event_dir:
            os.makedirs(self.event_dir)

        t0 = time.perf_counter()
        spark = start_spark(self.run_dir, self.event_dir)
        self.sc = spark.sparkContext
        try:
            self.warm_up(spark)
            setup_s = time.perf_counter() - t0
            log(f"setup {setup_s:.1f}s")
            if self.trace:
                metrics, tracer = self.traced(spark)
            else:
                metrics = self.timed(spark)
                metrics["setup_s"] = setup_s
        finally:
            stop_spark(spark)
        if self.trace:
            self.event_log_metrics(metrics)
            trace_dir = os.path.join(WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{self.workload}-seed{self.seed}.json")
            tracer.dump(path, metrics=metrics)
            self.notes.append(f"spans and per-layer metrics: {path}")
        return self.result(metrics), self.report_lines()

    def warm_up(self, spark) -> None:
        """Spawn the Python workers and load the models in each: the
        extraction UDF over the setup corpus, split into as many tasks as
        stage kg uses."""
        from mitie_spark.models.train import ARTIFACT_DIR
        from mitie_spark.operators.extraction import extract_kg

        pages = spark.read.parquet(os.path.join(self.setup_corpus, "pages.parquet"))
        extract_kg(
            pages,
            os.path.join(ARTIFACT_DIR, "ner_model.npz"),
            os.path.join(ARTIFACT_DIR, "relation_model.npz"),
            parallelism=spark.sparkContext.defaultParallelism,
        ).count()

    def timed(self, spark) -> dict:
        from perfbench.procstat import RssPeak, tree_cpu_s

        m: dict[str, float] = {}
        me = os.getpid()
        self.attempted += 1
        cpu0 = tree_cpu_s(me)
        t = time.perf_counter()
        try:
            with RssPeak(me) as rss:
                out, rep = self.pipeline_pass(spark, self.timed_corpus, "timed")
        except Exception:
            self.failed += 1
            log(f"timed pipeline pass raised:\n{traceback.format_exc()}")
            return m
        wall = time.perf_counter() - t
        cpu = tree_cpu_s(me) - cpu0
        log(f"timed pass {wall:.1f}s")
        p, r, ok = self.check_pass(self.timed_corpus, self.seed,
                                   self.n_timed, out, rep, "timed")
        self.failed += not ok
        self.properties(out)
        m.update({
            "docs_per_s": self.n_timed / wall,
            "cpu_s_per_kdoc": cpu / (self.n_timed / 1000),
            "worker_rss_peak_mb": rss.peak_mb,
            "triple_precision": p,
            "triple_recall": r,
        })
        lat = self.query_rounds(query_mix(spark, out, self.seed))
        if all(lat.values()):
            med = {name: statistics.median(xs) for name, xs in lat.items()}
            m["query_mix_s"] = sum(med.values())
            self.notes.append(
                f"query_mix_s sums the median latency of each shape over "
                f"{QUERY_ROUNDS} rounds: "
                + " ".join(f"{k}={v:.3f}s" for k, v in med.items())
            )
        return m

    def properties(self, out: str) -> None:
        from perfbench.workloads import extraction_properties, input_properties

        self.props = input_properties(self.timed_corpus)
        self.props.update(extraction_properties(
            pd.read_parquet(os.path.join(out, "kg"), columns=["n_tokens", "mentions"])
        ))

    def report_lines(self) -> list[str]:
        why = {w["name"]: w["why"] for w in self.spec["workloads"]}[self.workload]
        lines = [f"# {self.workload} (seed {self.seed}): {why}"]
        if self.props:
            lines.append(
                "# timed corpus: "
                + " ".join(
                    f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}"
                    for k, v in self.props.items()
                )
                + " (tokens, candidate_pairs and long_doc_share over the"
                " en pages stage kg extracts)"
            )
        lines.append(f"# failed_frac={self.failed}/{self.attempted}")
        lines.extend(f"# {n}" for n in self.notes)
        return lines

    def result(self, metrics: dict) -> dict:
        key = "per_layer" if self.trace else "end_to_end"
        units = {m["name"]: m["unit"] for m in self.spec[key]}
        correct = not self.failed and not self.problems
        if correct and set(metrics) != set(units):
            raise RuntimeError(
                f"metrics {sorted(set(metrics) ^ set(units))} do not match "
                f"BENCHMARK.json {key}"
            )
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(v), "unit": units[k]}
                for k, v in metrics.items() if k in units
            },
        }

    # -- traced run

    def traced(self, spark):
        from mitie_spark.operators import kgquery, webgraph
        from mitie_spark.plans import lineage, pipeline

        from perfbench.trace import Tracer, job_group, patched

        tracer = Tracer(f"{self.workload}-seed{self.seed}-{os.getpid()}")
        sc = self.sc

        def stage(fn):
            def traced_write_stage(df, out_path, stage, *a, **k):
                with job_group(sc, f"stage.{stage}"), tracer.span(f"stage.{stage}"):
                    return fn(df, out_path, stage, *a, **k)
            return traced_write_stage

        def write(fn):
            def traced_write_table(df, out_path, stage, *a, **k):
                with tracer.span(f"stage.{stage}.write"):
                    return fn(df, out_path, stage, *a, **k)
            return traced_write_table

        def pagerank(fn):
            def traced_pagerank(*a, **k):
                with job_group(sc, "webgraph.pagerank"), tracer.span("webgraph.pagerank"):
                    return fn(*a, **k)
            return traced_pagerank

        m: dict[str, float] = {}
        self.attempted += 1
        try:
            with contextlib.ExitStack() as stack:
                stack.enter_context(patched(pipeline, "write_stage", stage(pipeline.write_stage)))
                stack.enter_context(patched(lineage, "write_table", write(lineage.write_table)))
                stack.enter_context(patched(webgraph, "pagerank", pagerank(webgraph.pagerank)))
                with tracer.span("plans.pipeline.run_pipeline"):
                    out, rep = self.pipeline_pass(spark, self.timed_corpus, "timed")
        except Exception:
            self.failed += 1
            log(f"traced pipeline pass raised:\n{traceback.format_exc()}")
            return m, tracer
        _, _, ok = self.check_pass(self.timed_corpus, self.seed,
                                   self.n_timed, out, rep, "traced")
        self.failed += not ok
        self.properties(out)
        (run_s,) = tracer.durations("plans.pipeline.run_pipeline")
        (pr_s,) = tracer.durations("webgraph.pagerank")
        stage_sum = 0.0
        for st in STAGES:
            (wall,) = tracer.durations(f"stage.{st}")
            (wr,) = tracer.durations(f"stage.{st}.write")
            stage_sum += wall
            m[f"stage.{st}.wall_s"] = wall
            m[f"stage.{st}.write_s"] = wr
            m[f"stage.{st}.readback_s"] = wall - wr
            m[f"stage.{st}.output_rows"] = rep[st]["output_rows"]
        m["webgraph.pagerank.wall_s"] = pr_s
        m["pipeline.outside_stages_s"] = run_s - stage_sum - pr_s
        m["pipeline.traced_docs_per_s"] = self.n_timed / run_s
        m.update(self.extraction_layers(tracer, out))

        with patched(kgquery, "match_patterns",
                     tracer.wrap(kgquery.match_patterns, "kgquery.match_patterns")):
            lat = self.query_rounds(query_mix(spark, out, self.seed), tracer)
        for name, xs in lat.items():
            if xs:
                m[f"query.{name}.p50_s"] = statistics.median(xs)
        plan = tracer.durations("kgquery.match_patterns")
        if plan:
            m["kgquery.match_patterns.plan_s"] = statistics.median(plan)
        return m, tracer

    def event_log_metrics(self, m: dict) -> None:
        """Task metrics per stage and per query shape, from the event log
        the stopped session left complete."""
        from perfbench.trace import event_log_tasks, task_summary

        groups = event_log_tasks(self.event_dir)
        for st in STAGES:
            for k, v in task_summary(groups.get(f"stage.{st}", [])).items():
                m[f"stage.{st}.{k}"] = v
        for sh in SHAPES:
            s = task_summary(groups.get(f"query.{sh}", []))
            m[f"query.{sh}.shuffle_write_bytes"] = s["shuffle_write_bytes"] / QUERY_ROUNDS

    def extraction_layers(self, tracer, kg_out: str) -> dict:
        """Run ``extract_documents_batch`` in this process over the timed
        corpus's en pages, in Arrow-batch-sized chunks: traced once, and
        untraced once before and once after, each from the same cache state
        (cleared, then warmed on the setup corpus as the workers were).
        Check the traced output against stage kg."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        from mitie_spark.functions import hashing, tokenizer
        from mitie_spark.models import ner_model, relation_model
        from mitie_spark.models.train import ARTIFACT_DIR
        from mitie_spark.operators import extraction

        from perfbench.trace import patched

        ner, rel = extraction._load_models(
            os.path.join(ARTIFACT_DIR, "ner_model.npz"),
            os.path.join(ARTIFACT_DIR, "relation_model.npz"),
        )
        schema = to_arrow_schema(_parse_datatype_string(extraction.KG_SCHEMA))

        def en_pages(corpus_dir):
            pdf = pd.read_parquet(os.path.join(corpus_dir, "pages.parquet"),
                                  columns=["url", "text", "lang"])
            return pdf[pdf["lang"] == "en"]

        warm, timed = en_pages(self.setup_corpus), en_pages(self.timed_corpus)

        def reset_caches():
            for mod in (hashing, ner_model, relation_model):
                for v in vars(mod).values():
                    if hasattr(v, "cache_clear"):
                        v.cache_clear()
            ner.__dict__.pop("_chunk_cache", None)

        def extract(pdf, span=None) -> dict:
            """The mapInPandas body of extraction.extract_kg: batch
            extraction, then the output batch to Arrow."""
            span = span or (lambda name: contextlib.nullcontext())
            out = {}
            for i in range(0, len(pdf), ARROW_BATCH):
                part = pdf.iloc[i : i + ARROW_BATCH]
                res = extraction.extract_documents_batch(list(part["text"]), ner, rel)
                with span("extraction.to_arrow"):
                    cols = {
                        "url": list(part["url"]),
                        "n_tokens": [r[0] for r in res],
                        "mentions": [r[1] for r in res],
                        "triples": [r[2] for r in res],
                    }
                    pa.Table.from_pandas(pd.DataFrame(cols), schema=schema,
                                         preserve_index=False)
                out.update(zip(cols["url"], res))
            return out

        def untraced_run() -> float:
            reset_caches()
            extract(warm)
            t = time.perf_counter()
            extract(timed)
            return time.perf_counter() - t

        # untraced before and after the traced run, so the comparison does
        # not favour either position
        untraced_s = untraced_run()

        reset_caches()
        extract(warm)
        chunks0 = len(getattr(ner, "_chunk_cache", {}))
        win0 = relation_model._window_feats.cache_info()
        feat0 = relation_model._feat.cache_info()
        w = tracer.wrap
        with contextlib.ExitStack() as stack:
            for obj, attr, name, count in (
                (tokenizer, "tokenize", "tokenizer.tokenize",
                 lambda a, out: len(out)),
                (ner, "X", "ner_model.X", None),
                (ner, "segment_batch", "ner_model.segment_batch", None),
                (ner, "classify_chunks_batch", "ner_model.classify_chunks_batch",
                 lambda a, out: sum(len(doc[2]) for doc in a[0])),
                (rel, "detect_batch", "relation_model.detect_batch",
                 lambda a, out: len(a[0])),
                (extraction, "extract_documents_batch",
                 "extraction.extract_documents_batch", lambda a, out: len(a[0])),
            ):
                stack.enter_context(
                    patched(obj, attr, w(getattr(obj, attr), name, count))
                )
            t = time.perf_counter()
            got = extract(timed, tracer.span)
            traced_s = time.perf_counter() - t
        chunks1 = len(ner._chunk_cache)
        win1 = relation_model._window_feats.cache_info()
        feat1 = relation_model._feat.cache_info()
        untraced_s = (untraced_s + untraced_run()) / 2

        def hit_ratio(before, after):
            hits = after.hits - before.hits
            return hits / max(hits + after.misses - before.misses, 1)

        n_chunks = tracer.counts["ner_model.classify_chunks_batch"]
        self_s = tracer.self_times()
        m = {f"{layer}.self_s": self_s.get(layer, 0.0) for layer in EXTRACTION_LAYERS}
        m.update({
            "tokenizer.tokens": tracer.counts["tokenizer.tokenize"],
            "ner_model.chunks": n_chunks,
            "ner_model.chunk_cache_hit_ratio":
                1 - (chunks1 - chunks0) / max(n_chunks, 1),
            "relation_model.pairs": tracer.counts["relation_model.detect_batch"],
            "relation_model.window_cache_hit_ratio":
                hit_ratio(win0, win1),
            "relation_model.feat_cache_hit_ratio":
                hit_ratio(feat0, feat1),
            "extraction.docs": len(timed),
            "extraction.layer_sum_ratio":
                sum(self_s.get(layer, 0.0) for layer in EXTRACTION_LAYERS) / traced_s,
            "extraction.untraced_docs_per_s": len(timed) / untraced_s,
            "extraction.traced_docs_per_s": len(timed) / traced_s,
        })
        if abs(m["extraction.layer_sum_ratio"] - 1) > 0.10:
            self.problem(
                f"extraction layer self times sum to "
                f"{m['extraction.layer_sum_ratio']:.3f} of the traced wall"
            )
        self.notes.append(
            "tracing overhead: in-process extraction "
            f"{m['extraction.untraced_docs_per_s']:.1f} docs/s untraced vs "
            f"{m['extraction.traced_docs_per_s']:.1f} docs/s traced"
        )

        kg = pd.read_parquet(os.path.join(kg_out, "kg"))
        differ = len(set(got) ^ set(kg["url"]))
        for url, n, ments, trips in kg[["url", "n_tokens", "mentions", "triples"]].itertuples(
            index=False, name=None
        ):
            mine = got.get(url)
            if mine is not None and (
                mine[0] != n or mine[1] != list(ments) or mine[2] != list(trips)
            ):
                differ += 1
        if differ:
            self.problem(f"in-process extraction differs from stage kg on {differ} urls")
        return m


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # everything Spark, the JVM and the Python workers write stays in the
    # checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None
    try:
        res, lines = Run(args, run_dir, spec).execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
