"""Extraction benchmark: one seeded workload per run, Spark at local[N].

    python3 perfbench/run.py --workload heavy_pages --seed 1 --seconds 20 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``).  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same flow with
spans around every call into a layer and reports the per-layer metrics,
writing the spans and the self-time ledger to
``perfbench/.work/trace/``.  README.md in this directory maps every
metric to its layer and workload.

Exit codes: 0 measured and correct; 1 an output check failed (the JSON
line is still printed, with ``correct`` false); 2 the engine could not be
imported (nothing is printed on stdout).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = min(4, os.cpu_count() or 1)
SETUPS = 3  # setup_s is the median of this many build + first-query rounds
MIN_PASSES = 3  # timed passes, however long they take
# run_extraction checkpointing for crawl_archives: one wave; each wave adds
# a fixed ~2.4 s of writes and reads on this 4-core host, which the
# commit_overhead probe reports
N_BUCKETS = 8
BUCKETS_PER_WAVE = 8
# JVM-side reassembly of a document's spans into its HTML, as the engine
# does before the Arrow hop; the scan_reassembly probe measures it alone.
REASSEMBLE = "array_join(transform(array_sort(spans, (a, b) -> a.offset - b.offset), s -> s.text), '')"


def _configure_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout
    (``-XX:-UsePerfData`` on the launcher and the driver JVM: no hsperfdata
    file in the system temp dir), and
    let Spark's Python workers import the engine from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p99(xs):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, math.ceil(0.99 * len(s)) - 1)]


class Bench:
    def __init__(self, args, tracer):
        self.args = args
        self.t = tracer
        self.w = W.WORKLOADS[args.workload]
        self.spark = None
        self.pass_no = 0
        self.last_out = None
        self.down = False

    # -- Spark -----------------------------------------------------------

    def build(self):
        from go_readability_spark.spark.session import build_session

        with self.t.span("spark.session.build_session"):
            self.spark = build_session(cpus=CPUS, app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            # one task per input file (the generators write several files
            # per core), so one slow task cannot set a pass's wall; a small
            # table otherwise packs into exactly `cores` tasks
            self.spark.conf.set("spark.sql.files.minPartitionNum", str(8 * CPUS))

    def extract(self, path: str):
        from go_readability_spark.spark.extract import route_and_extract

        docs = self.spark.read.parquet(path)
        return route_and_extract(docs, C.OPTIONS, prescreen=self.w.prescreen)

    def ingested(self, src: str):
        """binaryFile archives and PDFs under ``src`` → the documents table."""
        from pyspark.sql import functions as F

        from go_readability_spark.spark.corpus import ingest_pdf_documents, ingest_warc_documents

        read = self.spark.read.format("binaryFile")
        warc = read.load(os.path.join(src, "warc"))
        pdf = read.load(os.path.join(src, "pdf")).select(
            F.element_at(F.split("path", "/"), -1).alias("doc_id"),
            F.col("content").alias("payload"),
        )
        return ingest_warc_documents(warc).unionByName(ingest_pdf_documents(pdf))

    def crawl(self, src: str):
        """Ingest into a documents parquet, then run_extraction over it;
        returns (output root, RunResult)."""
        from go_readability_spark.spark.pipeline import run_extraction

        self.pass_no += 1
        out = os.path.join(WORK, "out", f"pass-{self.pass_no}")
        with self.t.span("spark.corpus.ingest"):
            self.ingested(src).write.mode("overwrite").parquet(os.path.join(out, "documents"))
        with self.t.span("spark.pipeline.run_extraction"):
            res = run_extraction(
                self.spark,
                self.spark.read.parquet(os.path.join(out, "documents")),
                os.path.join(out, "run"),
                run_id="perfbench",
                n_buckets=N_BUCKETS,
                buckets_per_wave=BUCKETS_PER_WAVE,
                options=C.OPTIONS,
                prescreen=self.w.prescreen,
            )
        return out, res

    def one_pass(self, src: str) -> int:
        """One full pass over ``src``; returns the output row count.  A
        crawl pass leaves its output root behind for the caller to drop
        outside the timed region."""
        if self.w.name == "crawl_archives":
            self.last_out, res = self.crawl(src)
            return res.n_docs
        with self.t.span("spark.extract.route_and_extract"):
            return self.extract(src).count()

    def setup(self, warm: str) -> float:
        """build_session + the first extraction query, over a warm-up set
        with at least one task per core so every Python worker spawns.
        For crawl_archives the query ingests the warm-up archives and PDFs
        and extracts them, without writes."""
        from go_readability_spark.spark.extract import route_and_extract

        t0 = time.perf_counter()
        self.build()
        with self.t.span("spark.extract.first_query"):
            if self.w.name == "crawl_archives":
                route_and_extract(self.ingested(warm), C.OPTIONS, prescreen=self.w.prescreen).count()
            else:
                self.extract(warm).count()
        return time.perf_counter() - t0

    def stop(self):
        with self.t.span("spark.session.stop"):
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop Spark, the JVM and the Python workers, and wait for them."""
        if self.down:
            return
        self.down = True
        if self.spark is not None:
            self.stop()
        with self.t.span("spark.session.shutdown"):
            self._stop_jvm()

    def _stop_jvm(self):
        from pyspark import SparkContext

        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while len(P.tree_pids()) > 1 and time.time() < deadline:
            time.sleep(0.1)
        for pid in P.tree_pids()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    # -- correctness ---------------------------------------------------

    def check(self, want) -> tuple[list[str], int]:
        """Collect one full pass's output and compare it row by row with
        the in-process kernel.  small_pages and heavy_pages run an untimed
        pass for this, which also keeps the first full pass out of the
        steady state; crawl_archives reads back the last timed pass's
        tables (its first, slow pipeline run is a warm-up pass)."""
        with self.t.span("spark.extract.checked_pass"):
            if self.w.name == "crawl_archives":
                out = self.last_out
                got_docs = self._rows(self.spark.read.parquet(os.path.join(out, "documents")), ["doc_id", "uri", "spans"])
                got = self._rows(
                    self.spark.read.parquet(os.path.join(out, "run", "articles")),
                    ["doc_id", "status", "title", "spans"],
                )
            else:
                got_docs = None
                got = self._rows(self.extract(self.docs_src), ["doc_id", "status", "title", "spans"])
        with self.t.span("bench.compare"):
            problems, failed = C.compare(got, want)
            if got_docs is not None:
                # uri only where the archive carries one: a PDF's is the
                # engine's default
                ingested = {r["doc_id"]: (r["uri"], C.reassemble(r["spans"])) for r in got_docs}
                bad = [
                    d for d, uri, html in self.docs
                    if d not in ingested or ingested[d][1] != html or (uri and ingested[d][0] != uri)
                ]
                if bad:
                    problems.append(f"{len(bad)} ingested documents differ from the in-process codecs, e.g. {bad[:3]}")
        return problems, failed

    def _rows(self, df, cols):
        with self.t.span("bench.collect"):
            return df.select(*cols).toArrow().to_pylist()

    # -- measurement -----------------------------------------------------

    def _discard_output(self) -> None:
        """Keep only the last crawl pass's tables."""
        if self.last_out is not None:
            with self.t.span("bench.discard_output"):
                shutil.rmtree(self.last_out)
            self.last_out = None

    def warm_pass(self, n_docs: int) -> None:
        self._discard_output()
        with self.t.span("spark.extract.warm_pass"):
            n = self.one_pass(self.docs_src)
        if n != n_docs:
            self.problems.append(f"a warm-up pass returned {n} rows for {n_docs} documents")

    def timed_pass(self, passes: list, n_docs: int, stage_stats: bool) -> None:
        """One timed full pass: wall, process-tree CPU and output count.
        Traced runs alternate: odd passes record no inner spans, and the
        difference is the tracing overhead."""
        untraced = stage_stats and len(passes) % 2 == 1
        self._discard_output()
        before = self._last_stage() if stage_stats else None
        cpu0 = P.tree_cpu_s()
        t0 = time.perf_counter()
        with self.t.span("spark.extract.pass"), self.t.paused(untraced):
            n = self.one_pass(self.docs_src)
        wall = time.perf_counter() - t0
        cpu = P.tree_cpu_s() - cpu0
        rec = {"wall_s": wall, "cpu_s": cpu, "rows": n, "traced": not untraced}
        if stage_stats:
            with self.t.span("bench.stage_metrics"):
                rec.update(self._stage_metrics(before))
        passes.append(rec)
        if n != n_docs:
            self.problems.append(f"pass {len(passes)} returned {n} rows for {n_docs} documents")

    def _stages(self):
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        seq = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
        return store, [seq.apply(i) for i in range(seq.size())]

    def _last_stage(self) -> int:
        _, stages = self._stages()
        return max((s.stageId() for s in stages), default=-1)

    def _stage_metrics(self, after_id: int) -> dict:
        store, stages = self._stages()
        done = [s for s in stages if s.stageId() > after_id and s.status().toString() == "COMPLETE"]
        run = sum(s.executorRunTime() for s in done)
        gc = sum(s.jvmGcTime() for s in done)
        main = max(done, key=lambda s: s.executorRunTime())
        tasks = store.taskList(main.stageId(), main.attemptId(), 100_000)
        durations = [
            tasks.apply(i).duration().get() for i in range(tasks.size()) if tasks.apply(i).duration().isDefined()
        ]
        return {
            "gc_frac": gc / run if run else 0.0,
            "tasks": main.numTasks(),
            "task_max_over_median": max(durations) / max(_median(durations), 1),
        }

    def run(self):
        args = self.args
        self.problems: list[str] = []
        # pipeline outputs of an earlier run would read as finished buckets
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
        with self.t.span("bench.generate"):
            self.inputs, manifest = W.materialize(args.workload, args.seed, WORK)
        crawl = self.w.name == "crawl_archives"
        self.docs_src = self.inputs if crawl else os.path.join(self.inputs, "docs")
        warm = os.path.join(self.inputs, "warm")
        with self.t.span("bench.expected"):
            # decoded inputs feed the ingest check and the kernel sample
            self.docs = C.input_documents(args.workload, self.inputs) if crawl or args.trace else []
            cache = os.path.join(
                WORK, "expected",
                f"{args.workload}-{args.seed}-{W.generator_digest()}-{C.package_digest(ROOT)}.json",
            )
            want, kernel_cpu_s = C.cached_expected(
                cache, args.workload, self.inputs, self.w.prescreen, CPUS, fresh=bool(args.trace)
            )
        if sorted(want) != sorted(manifest["doc_ids"]):
            self.problems.append("in-process codecs do not decode the generated document set")
        n_docs = len(want)

        trace = bool(args.trace)
        with P.WorkerRssSampler() as rss:
            # Only steady-state passes are timed.  The first full pass in
            # a session is 25-40% slower, and the JVM keeps compiling for
            # several passes after it, so all setups come first, then the
            # untimed checked pass and warm-up passes, then the timed
            # passes back to back in the last session.
            setups, passes = [], []
            for i in range(SETUPS):
                if i:
                    self.stop()
                setups.append(self.setup(warm))
            if not crawl:
                problems, failed = self.check(want)
            for _ in range(self.w.warm_passes):
                self.warm_pass(n_docs)
            while len(passes) < MIN_PASSES or sum(p["wall_s"] for p in passes) < args.seconds:
                self.timed_pass(passes, n_docs, trace)
            if crawl:
                problems, failed = self.check(want)
            self.problems += problems
            extra = self.layer_probes(passes, n_docs, kernel_cpu_s) if trace else {}
        docs_per_s = [n_docs / p["wall_s"] for p in passes]
        result = {
            "setup_s": _median(setups),
            "docs_per_s": _median(docs_per_s),
            "cpu_s_per_kdoc": _median([1000 * p["cpu_s"] / n_docs for p in passes]),
            "worker_rss_peak_mb": rss.peak_mb,
            "doc_fail_frac": failed / n_docs,
        }
        detail = {"setups_s": setups, "passes": passes, "n_docs": n_docs}
        return result, extra, failed, n_docs, detail

    # -- per-layer probes (traced run only) --------------------------------

    def layer_probes(self, passes, n_docs, kernel_cpu_s) -> dict:
        from pyspark.sql import functions as F

        m: dict[str, float] = {}
        setup_builds = self.t.durations("spark.session.build_session")
        firsts = self.t.durations("spark.extract.first_query")
        m["spark.session.build_s"] = _median(setup_builds)
        m["spark.session.first_query_s"] = _median(firsts)

        if self.w.name == "crawl_archives":
            table = os.path.join(self.last_out, "documents")
        else:
            table = self.docs_src

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def timed(name, fn, repeat=3):
            out = []
            for _ in range(repeat):
                t0 = time.perf_counter()
                with self.t.span(name):
                    fn()
                out.append(time.perf_counter() - t0)
            return _median(out)

        projected = lambda: self.spark.read.parquet(table).select("doc_id", F.expr(REASSEMBLE).alias("html"))
        m["spark.extract.scan_reassembly_s"] = timed("spark.extract.scan_reassembly", lambda: noop(projected()))
        m["spark.extract.arrow_roundtrip_s"] = timed(
            "spark.extract.arrow_roundtrip",
            lambda: noop(projected().mapInPandas(lambda it: it, schema="doc_id string, html string")),
        )
        spark_cpu_per_doc = _median([p["cpu_s"] for p in passes]) / n_docs
        m["spark.extract.python_overhead_frac"] = 1 - (kernel_cpu_s / n_docs) / spark_cpu_per_doc
        m["spark.extract.gc_frac"] = _median([p["gc_frac"] for p in passes])
        m["spark.extract.tasks"] = _median([p["tasks"] for p in passes])
        m["spark.extract.task_max_over_median"] = _median([p["task_max_over_median"] for p in passes])

        pipeline = {
            "spark.pipeline.ingest_s": 0.0,
            "spark.pipeline.run_extraction_s": 0.0,
            "spark.pipeline.waves": 0.0,
            "spark.pipeline.commit_overhead_s": 0.0,
        }
        if self.w.name == "crawl_archives":
            from go_readability_spark.spark.extract import route_and_extract

            run_s = _median(self.t.durations("spark.pipeline.run_extraction"))
            route_s = timed(
                "spark.extract.route_and_extract_noop",
                lambda: noop(route_and_extract(self.spark.read.parquet(table), C.OPTIONS, prescreen=self.w.prescreen)),
                repeat=2,
            )
            pipeline = {
                "spark.pipeline.ingest_s": _median(self.t.durations("spark.corpus.ingest")),
                "spark.pipeline.run_extraction_s": run_s,
                "spark.pipeline.waves": float(math.ceil(N_BUCKETS / BUCKETS_PER_WAVE)),
                "spark.pipeline.commit_overhead_s": run_s - route_s,
            }
        m.update(pipeline)
        m.update(kernel_sample(self.t, self.w, self.docs, self.inputs, self.args.seed))
        return m


KERNEL_CALLS = (
    "kernel.dom.parse_html",
    "kernel.readability.parse_document",
    "kernel.readerable.is_probably_readerable",
    "codec.spans.html_fragment_to_normalized_spans",
    "codec.spans.html_to_spans",
    "codec.warc.warc_html_pages",
    "codec.pdf.pdf_to_text_lines",
)


def kernel_sample(t, w, docs, inputs: str, seed: int) -> dict:
    """Each kernel and codec stage called in-process on a seeded sample of
    the workload's documents: median, p99 and n of the per-call ms."""
    from go_readability_spark.codec.pdf import pdf_to_text_lines
    from go_readability_spark.codec.spans import html_fragment_to_normalized_spans, html_to_spans
    from go_readability_spark.codec.warc import warc_html_pages
    from go_readability_spark.kernel.dom import parse_html
    from go_readability_spark.kernel.readability import parse_document
    from go_readability_spark.kernel.readerable import is_probably_readerable
    from go_readability_spark.spark.extract import DEFAULT_URI

    rng = random.Random(seed)
    k = {"small_pages": 200, "heavy_pages": len(docs), "crawl_archives": 40}[w.name]
    sample = rng.sample(docs, min(k, len(docs)))
    times: dict[str, list[float]] = {}
    nodes, skipped, pdf_ops = [], 0, []

    def call(name, fn, *a):
        t0 = time.perf_counter()
        with t.span(name):
            out = fn(*a)
        times.setdefault(name, []).append(1000 * (time.perf_counter() - t0))
        return out

    for doc_id, uri, html in sample:
        if w.name == "crawl_archives":
            call("codec.spans.html_to_spans", html_to_spans, html)
        dom = call("kernel.dom.parse_html", parse_html, html, uri or DEFAULT_URI)
        with t.span("bench.count_nodes"):
            n, todo = 0, [dom]
            while todo:
                node = todo.pop()
                n += 1
                todo.extend(node.child_nodes)
            nodes.append(n)
        if w.prescreen and not call(
            "kernel.readerable.is_probably_readerable", is_probably_readerable, html, C.OPTIONS
        ):
            skipped += 1
            continue
        result, _, _ = call("kernel.readability.parse_document", parse_document, html, uri or DEFAULT_URI, C.OPTIONS)
        if result is not None:
            call(
                "codec.spans.html_fragment_to_normalized_spans",
                html_fragment_to_normalized_spans,
                result.html_content,
            )
    if w.name == "crawl_archives":
        for path in sorted(glob.glob(os.path.join(inputs, "warc", "*"))):
            with open(path, "rb") as f:
                payload = f.read()
            call("codec.warc.warc_html_pages", lambda p: list(warc_html_pages(p)), payload)
        for path in sorted(glob.glob(os.path.join(inputs, "pdf", "*"))):
            with open(path, "rb") as f:
                payload = f.read()
            pdf_ops.append(len(call("codec.pdf.pdf_to_text_lines", pdf_to_text_lines, payload)))

    m: dict[str, float] = {}
    for name in KERNEL_CALLS:
        xs = times.get(name, [])
        m[f"{name}_ms"] = _median(xs)
        m[f"{name}_ms.p99"] = _p99(xs)
        m[f"{name}_ms.n"] = float(len(xs))
    m["kernel.dom.nodes_per_doc"] = _median(nodes)
    m["kernel.readerable.skip_frac"] = skipped / len(sample) if w.prescreen else 0.0
    m["codec.pdf.ops_per_doc"] = _median(pdf_ops)
    return m


def _per_layer_units() -> dict[str, str]:
    units = {
        "spark.session.build_s": "s",
        "spark.session.first_query_s": "s",
        "spark.extract.scan_reassembly_s": "s",
        "spark.extract.arrow_roundtrip_s": "s",
        "spark.extract.python_overhead_frac": "ratio",
        "spark.extract.gc_frac": "ratio",
        "spark.extract.tasks": "count",
        "spark.extract.task_max_over_median": "ratio",
    }
    for name in KERNEL_CALLS:
        units.update({f"{name}_ms": "ms", f"{name}_ms.p99": "ms", f"{name}_ms.n": "count"})
    units.update(
        {
            "kernel.dom.nodes_per_doc": "count",
            "kernel.readerable.skip_frac": "ratio",
            "codec.pdf.ops_per_doc": "count",
            "spark.pipeline.ingest_s": "s",
            "spark.pipeline.run_extraction_s": "s",
            "spark.pipeline.waves": "count",
            "spark.pipeline.commit_overhead_s": "s",
            "trace.overhead_frac": "ratio",
            "trace.layers_over_wall": "ratio",
        }
    )
    return units


END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "worker_rss_peak_mb": "MB",
}
PER_LAYER_UNITS = _per_layer_units()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    tracer = T.Tracer(bool(args.trace))
    probe0, cpu0 = P.host_probe_s(), P.cpu_times()
    bench = Bench(args, tracer)
    try:
        with tracer.span("run"):
            result, layers, failed, n_docs, detail = bench.run()
            bench.shutdown()
    finally:
        bench.shutdown()
    diagnostics = {
        "host_probe_s": [probe0, P.host_probe_s()],
        "steal_frac": P.steal_frac(cpu0, P.cpu_times()),
        "cpus": CPUS,
    }
    correct = not bench.problems
    for p in bench.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    record = {"args": vars(args), "result": result, "diagnostics": diagnostics, **detail}
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        ledger = tracer.write(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.json"), "run")
        record["ledger"] = ledger
        rate = {
            flag: _median([n_docs / p["wall_s"] for p in detail["passes"] if p["traced"] is flag])
            for flag in (True, False)
        }
        layers["trace.overhead_frac"] = 1 - rate[True] / rate[False] if rate[False] else 0.0
        layers["trace.layers_over_wall"] = ledger["layers_over_wall"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        if ledger["layers_over_wall"] < 0.9:
            print("CHECK FAILED: layer self-times cover less than 90% of the traced wall", file=sys.stderr)
            correct = False
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(diagnostics), file=sys.stderr)
    print(
        f"{args.workload}: "
        + " ".join(f"{k}={result[k]:.6g} {END_TO_END_UNITS.get(k, 'ratio')}" for k in result)
    )
    print(json.dumps({"correct": correct, "attempted": n_docs, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    _configure_environment()
    sys.path.insert(1, ROOT)
    try:
        import go_readability_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        sys.exit(2)
    import check as C
    import procstat as P
    import tracing as T
    import workloads as W

    sys.exit(main())
