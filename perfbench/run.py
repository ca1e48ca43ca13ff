"""KG build benchmark: times the knowledge-graph pipeline on seeded corpora,
checks its outputs, and prints one JSON result line.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` enables the Spark UI, reads its REST API and prints the
per-layer metrics instead (see perfbench/README.md). Every line before the
last is a human-readable report; the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

PACKAGE = "named_entity_algorithm_project_spark"

#: corpus shape per workload; the seed picks the rows. ``warmup_convs``
#: sizes the set-up's warm-up corpus, drawn at the workload's own
#: ``vocab_scale`` so the warm-up runs the same linking path as the timed
#: pipelines
WORKLOADS = {
    # vocabulary of ~30 norms: linking takes the driver-local path, so the
    # detector (Stage A) and the Stage-E writes carry the run
    "kg_batch": {"n_convs": 4000, "vocab_scale": 1, "n_buckets": 2, "warmup_convs": 500},
    # ~6k norms: above the 5k local-linking limit, so Stage B runs the
    # distributed prefix-filtered TF-IDF join; the 850-conversation warm-up
    # crosses that limit too (750 conversations gave 5,019 norms on one seed)
    "kg_wide_vocab": {"n_convs": 800, "vocab_scale": 2500, "n_buckets": 2, "warmup_convs": 850},
}
TOY_CONVS = 40
#: the traced run's resume leg: crash after this many of the buckets commit
RESUME_BUCKETS, RESUME_FAIL_AFTER = 16, 8
TOY_RESUME_BUCKETS, TOY_RESUME_FAIL_AFTER = 4, 2
#: conversations whose mentions are checked against the pandas oracle
ORACLE_SAMPLE_CONVS = 40
#: conversations whose turns feed the in-process detector loop
DETECTOR_CONVS = 800
QUERY_EXTRA = ["q31_kg_semantic_linking"]
#: the query leg's tables: a byte-identical copy of the repository's sf0.1
#: test tier (TESTDATA.md), the tables the headline queries read
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
SF_TABLES = ("lineitem", "part", "events", "documents", "embeddings")

def summarize(samples):
    """Median, the highest percentile with at least ten samples beyond it
    (None below eleven samples) and the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"median": statistics.median(xs) if xs else None, "n": n, "p_hi": None}
    if n >= 11:
        k = n - 11
        out["p_hi"] = (round(100.0 * k / (n - 1), 1), xs[k])
    return out


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _parquet_stats(path: str):
    """(parquet files, their MB) under an output directory."""
    sizes = [
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]
    return len(sizes), sum(sizes) / 1e6


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.shape = dict(WORKLOADS[args.workload])
        if args.toy:
            self.shape["n_convs"] = TOY_CONVS
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failures = set()
        from restspans import Tracer

        self.tracer = Tracer(f"{args.workload}-{args.seed}")

    # ---------------------------------------------------------------- helpers
    @staticmethod
    def say(line: str) -> None:
        print(line, flush=True)

    def fail(self, what: str, problems) -> None:
        for p in problems:
            self.say(f"CHECK FAILED [{what}] {p}")
        if problems:
            self.failures.add(what)

    def corpus_seed(self, i: int) -> int:
        # iteration i of the timed loop; the warm-up uses its own seed so no
        # worker-side cache can carry rows from warm-up into a timed run
        return self.args.seed * 1000 + i

    def corpus(self, seed: int, n_convs=None, vocab_scale=None):
        from named_entity_algorithm_project_spark.datagen import generate_transcripts

        df = generate_transcripts(
            self.spark,
            n_convs=n_convs or self.shape["n_convs"],
            seed=seed,
            vocab_scale=vocab_scale or self.shape["vocab_scale"],
        ).persist()
        return df, df.count()

    def input_md5(self, seed: int) -> str:
        """Fingerprint of the first conversations' texts for a corpus seed."""
        from named_entity_algorithm_project_spark.datagen import conv_rows

        h = hashlib.md5()
        for i in range(5):
            for row in conv_rows(i, seed, vocab_scale=self.shape["vocab_scale"]):
                h.update(row[3].encode())
        return h.hexdigest()[:12]

    def run_kg(self, transcripts, out_dir, n_buckets, resume=False, fail_after=None):
        from named_entity_algorithm_project_spark.pipeline import (
            PipelineConfig,
            run_pipeline,
        )

        return run_pipeline(
            self.spark,
            transcripts,
            out_dir,
            config=PipelineConfig(n_buckets=n_buckets),
            resume=resume,
            fail_after_buckets=fail_after,
        )

    # ------------------------------------------------------------------ setup
    def setup(self) -> float:
        from named_entity_algorithm_project_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.cpus = cpus
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 16),
            extra_conf={
                "spark.ui.enabled": "true" if self.trace else "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        # untimed warm-up pipeline on a small separate corpus: the first
        # pipeline in a JVM pays class loading, code generation and JIT,
        # which belongs here and not in kg_wall_s
        warm, _ = self.corpus(
            self.corpus_seed(999),
            n_convs=TOY_CONVS if self.args.toy else self.shape["warmup_convs"],
        )
        out = os.path.join(self.work, "warmup")
        result = self.run_kg(warm, out, self.shape["n_buckets"])
        result.triples.count()
        self.warmup_norms = {
            r["metric"]: r["value"] for r in result.metrics.collect()
        }["n_canonical_norms"]
        warm.unpersist()
        shutil.rmtree(out, ignore_errors=True)
        t2 = time.perf_counter()
        self.tracer.add("setup.get_spark", t0, t1, "setup")
        self.tracer.add("setup.warmup_pipeline", t1, t2, "setup")
        self.tracer.add("setup", t0, t2)
        return t2 - t0

    # ------------------------------------------------------------- timed loop
    def timed_loop(self):
        """Pipeline iterations on fresh corpora until the next one would
        overrun ``--seconds``; at least one."""
        from outputcheck import check_sample_mentions, check_triple_counts

        rest = None
        if self.trace:
            from restspans import SparkRest

            rest = SparkRest(self.spark)
        iters = []
        t_start = time.perf_counter()
        i = 0
        while True:
            seed = self.corpus_seed(i)
            transcripts, n_turns = self.corpus(seed)
            out = os.path.join(self.work, f"kg_{i}")
            self.attempted += 1
            rec = {"seed": seed, "turns": n_turns, "out": out, "transcripts": transcripts}
            e0, p0 = time.time(), time.perf_counter()
            try:
                result = self.run_kg(transcripts, out, self.shape["n_buckets"])
                e1 = time.time()
                n_triples = result.triples.count()
                rec["wall"] = time.perf_counter() - p0
                rec["triples"] = n_triples
            except Exception as exc:  # a raising run counts as failed
                rec["wall"] = time.perf_counter() - p0
                rec["triples"] = 0
                self.fail(f"kg iteration {i}", [f"{type(exc).__name__}: {exc}"])
                iters.append(rec)
                break
            self.tracer.add(f"iteration.{i}.pipeline", p0, p0 + rec["wall"], f"iteration.{i}",
                            turns=n_turns, triples=n_triples)
            c0 = time.perf_counter()
            step = self.shape["n_convs"] // ORACLE_SAMPLE_CONVS or 1
            sample = list(range(0, self.shape["n_convs"], step))[:ORACLE_SAMPLE_CONVS]
            problems = check_triple_counts(result) + check_sample_mentions(
                result, sample, seed, self.shape["vocab_scale"]
            )
            self.fail(f"kg iteration {i}", problems)
            self.tracer.add(f"iteration.{i}.check", c0, time.perf_counter(), f"iteration.{i}")
            rec["result"] = result
            if rest is not None:
                rec["phases"] = rest.phase_table(e0, e1)
                rec["call_wall"] = e1 - e0
                rec["io"] = _parquet_stats(out)
                rec["metrics"] = {r["metric"]: r["value"] for r in result.metrics.collect()}
            iters.append(rec)
            if i > 0 or not self.trace:
                # the traced run keeps iteration 0 for the resume leg
                transcripts.unpersist()
                shutil.rmtree(out, ignore_errors=True)
            i += 1
            if time.perf_counter() - t_start + rec["wall"] > self.args.seconds:
                break
        return iters

    # ------------------------------------------------------- traced-run legs
    def detector_loop(self):
        from named_entity_algorithm_project_spark.datagen import generate_rows
        from named_entity_algorithm_project_spark.detector import extract_turn

        n = min(self.shape["n_convs"], DETECTOR_CONVS)
        texts = [
            r[3]
            for r in generate_rows(n_convs=n, seed=self.corpus_seed(0),
                                   vocab_scale=self.shape["vocab_scale"])
        ]
        per_turn, n_mentions = [], 0
        t0 = time.perf_counter()
        for text in texts:
            s = time.perf_counter_ns()
            n_mentions += len(extract_turn(text).mentions)
            per_turn.append((time.perf_counter_ns() - s) / 1e3)
        self.tracer.add("detector_loop", t0, time.perf_counter(), turns=len(texts))
        return per_turn, n_mentions

    def resume_leg(self, first, rest):
        """Crash after some bucket commits (untimed), then time the resumed
        run that completes the KG and compare its triple set with the
        uninterrupted run on the same corpus."""
        from outputcheck import triple_set_md5

        n_buckets = TOY_RESUME_BUCKETS if self.args.toy else RESUME_BUCKETS
        fail_after = TOY_RESUME_FAIL_AFTER if self.args.toy else RESUME_FAIL_AFTER
        out = os.path.join(self.work, "resume")
        reference = triple_set_md5(first["result"])
        empty = {"wall": 0.0, "stage_a_wall": 0.0, "buckets": 0}
        self.attempted += 1
        c0 = time.perf_counter()
        try:
            self.run_kg(first["transcripts"], out, n_buckets, fail_after=fail_after)
            self.fail("resume crash run", ["the injected failure did not raise"])
        except Exception as exc:
            if not (isinstance(exc, RuntimeError) and "injected failure" in str(exc)):
                self.fail("resume crash run", [f"{type(exc).__name__}: {exc}"])
        self.tracer.add("resume.crash_run", c0, time.perf_counter())
        if "resume crash run" in self.failures:
            # no crash state to resume from
            return empty
        self.attempted += 1
        e0, p0 = time.time(), time.perf_counter()
        try:
            result = self.run_kg(first["transcripts"], out, n_buckets, resume=True)
            e1 = time.time()
            result.triples.count()
            wall = time.perf_counter() - p0
        except Exception as exc:
            self.fail("resume run", [f"{type(exc).__name__}: {exc}"])
            return empty
        self.tracer.add("resume.resumed_run", p0, p0 + wall)
        got = triple_set_md5(result)
        if got != reference:
            self.fail("resume run", [f"resumed triple-set md5 {got} != uninterrupted {reference}"])
        phases = rest.phase_table(e0, e1)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "wall": wall,
            "stage_a_wall": phases.get("stage_a", {}).get("wall_s", 0.0),
            "buckets": len(result.lineage),
        }

    def query_leg(self):
        """One pass over the headline queries plus q31 on the sf0.1 tables,
        each result checked against its DuckDB oracle."""
        from bench import HEADLINE_QUERIES
        from named_entity_algorithm_project_spark import oracle_expected
        from named_entity_algorithm_project_spark.queries import ORACLES, QUERIES
        from outputcheck import check_query

        q31 = "q31_kg_semantic_linking"
        os.makedirs(oracle_expected.EXPECTED_DIR, exist_ok=True)
        oracle_expected.expected_q31().to_parquet(
            oracle_expected.EXPECTED_PATHS[q31], index=False
        )
        walls = {}
        for name in HEADLINE_QUERIES + QUERY_EXTRA:
            self.attempted += 1
            p0 = time.perf_counter()
            try:
                got = QUERIES[name](self.spark, SF_DIR).toPandas()
            except Exception as exc:
                walls[name] = time.perf_counter() - p0
                self.fail(f"query {name}", [f"{type(exc).__name__}: {exc}"])
                continue
            walls[name] = time.perf_counter() - p0
            self.tracer.add(f"query.{name}", p0, p0 + walls[name], "queries")
            self.fail(f"query {name}", check_query(name, got, ORACLES[name], SF_DIR, SF_TABLES))
        return walls

    def peak_rss(self):
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm_pid), _vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it owns)
        to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _fmt(name, samples, unit):
    s = summarize(samples)
    p_hi = "n/a (fewer than 11 samples)" if s["p_hi"] is None else f"p{s['p_hi'][0]}={s['p_hi'][1]:.4f}"
    return f"{name}: median={s['median']:.4f} {unit}  {p_hi}  n={s['n']}"


def end_to_end(bench, setup_s, iters):
    walls = [r["wall"] for r in iters]
    turns = [r["turns"] / r["wall"] for r in iters]
    triples = [r["triples"] / r["wall"] for r in iters]
    bench.say(_fmt("setup_s", [setup_s], "s"))
    bench.say(_fmt("kg_wall_s", walls, "s"))
    bench.say(_fmt("turns_per_s", turns, "1/s"))
    bench.say(_fmt("triples_per_s", triples, "1/s"))
    return {
        "kg_wall_s": (statistics.median(walls), "s"),
        "turns_per_s": (statistics.median(turns), "1/s"),
        "triples_per_s": (statistics.median(triples), "1/s"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(bench, iters):
    """Traced-run legs and the per-layer metric set."""
    from restspans import SparkRest

    rest = SparkRest(bench.spark)
    ok = [r for r in iters if "phases" in r]
    ok.sort(key=lambda r: r["wall"])
    it = ok[(len(ok) - 1) // 2]
    ph = it["phases"]
    def g(phase, key):
        # a phase that launched no job reads as zero
        return ph.get(phase, {}).get(key, 0)

    for phase in sorted(k for k in ph if not k.startswith("_")):
        p = ph[phase]
        bench.say(
            f"phase kg:{phase}: wall={p['wall_s']:.3f}s jobs={p['jobs']} "
            f"cpu={p['executor_cpu_s']:.3f}s shuffle_r={p['shuffle_read_mb']:.2f}MB "
            f"shuffle_w={p['shuffle_write_mb']:.2f}MB spill={p['spill_mb']:.2f}MB "
            f"out_rows={p['output_rows']}"
        )
    stage_e = ("stage_e_entities_write", "stage_e_triples_write", "stage_e_metrics_small_tables")
    driver_gap = it["call_wall"] - ph["_all"]["busy_s"]
    m = it["metrics"]
    per_turn, n_mentions = bench.detector_loop()
    bench.say(_fmt("detector.us_per_turn(per-turn samples)", per_turn, "us"))
    res = bench.resume_leg(iters[0], rest)
    qwalls = bench.query_leg()
    jvm_rss, py_rss = bench.peak_rss()
    out = {
        "detector.us_per_turn": (sum(per_turn) / len(per_turn), "us"),
        "detector.mentions_per_turn": (n_mentions / len(per_turn), "count"),
        "stage_a.wall_s": (g("stage_a", "wall_s"), "s"),
        "stage_a.executor_run_s": (g("stage_a", "executor_run_s"), "s"),
        "stage_a.executor_cpu_s": (g("stage_a", "executor_cpu_s"), "s"),
        "stage_a.jobs": (g("stage_a", "jobs"), "count"),
        "stage_a.spill_mb": (g("stage_a", "spill_mb"), "MB"),
        "stage_a.output_rows": (g("stage_a", "output_rows"), "count"),
        "stage_b.wall_s": (g("stage_b_linking", "wall_s"), "s"),
        "stage_b.executor_run_s": (g("stage_b_linking", "executor_run_s"), "s"),
        "stage_b.executor_cpu_s": (g("stage_b_linking", "executor_cpu_s"), "s"),
        "stage_b.jobs": (g("stage_b_linking", "jobs"), "count"),
        "stage_b.shuffle_read_mb": (g("stage_b_linking", "shuffle_read_mb"), "MB"),
        "stage_b.shuffle_write_mb": (g("stage_b_linking", "shuffle_write_mb"), "MB"),
        "stage_b.spill_mb": (g("stage_b_linking", "spill_mb"), "MB"),
        "linking.n_norms": (m["n_canonical_norms"], "count"),
        "linking.merged_ratio": (m["n_merged_norms"] / max(m["n_canonical_norms"], 1.0), "ratio"),
        "stage_c.wall_s": (g("stage_c_components", "wall_s"), "s"),
        "stage_c.jobs": (g("stage_c_components", "jobs"), "count"),
        "stage_e.entities_write_s": (g("stage_e_entities_write", "wall_s"), "s"),
        "stage_e.triples_write_s": (g("stage_e_triples_write", "wall_s"), "s"),
        "stage_e.small_tables_s": (g("stage_e_metrics_small_tables", "wall_s"), "s"),
        "stage_e.shuffle_write_mb": (sum(g(p, "shuffle_write_mb") for p in stage_e), "MB"),
        "stage_e.spill_mb": (sum(g(p, "spill_mb") for p in stage_e), "MB"),
        "io.output_mb": (it["io"][1], "MB"),
        "io.output_files": (it["io"][0], "count"),
        "pipeline.jobs": (ph["_all"]["jobs"], "count"),
        "pipeline.driver_gap_s": (driver_gap, "s"),
        "pipeline.traced_kg_wall_s": (it["wall"], "s"),
        "resume.wall_s": (res["wall"], "s"),
        "resume.stage_a_wall_s": (res["stage_a_wall"], "s"),
        "resume.buckets_reextracted": (res["buckets"], "count"),
        "queries.wall_s": (sum(qwalls.values()), "s"),
        "session.jvm_peak_rss_mb": (jvm_rss, "MB"),
        "session.python_peak_rss_mb": (py_rss, "MB"),
    }
    for name, wall in qwalls.items():
        out[f"query.{name}_s"] = (wall, "s")
    return out


def _load_host_probe(root: str):
    """``probe`` from scripts/host_health.py, loaded by path (``scripts``
    is not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "host_health", os.path.join(root, "scripts", "host_health.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.probe


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny corpora and tables (the harness self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in (os.path.join(PACKAGE, "pipeline.py"), os.path.join("scripts", "host_health.py"), "bench.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found under {root}; run from the repository root",
                  file=sys.stderr)
            return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the program runs at its defaults: drop its tuning knobs from the env
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "KG_")):
            del os.environ[key]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, root)

    probe = _load_host_probe(root)
    host_before = probe()
    bench = Bench(args, work)
    bench.say(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"shape={bench.shape}"
    )
    bench.say(f"host.before {json.dumps(host_before)}")
    try:
        setup_s = bench.setup()
        bench.say(f"local[{bench.cpus}] setup done in {setup_s:.2f}s "
                  f"(warm-up pipeline: {bench.warmup_norms:.0f} norms)")
        iters = bench.timed_loop()
        first = iters[0]
        bench.say(
            f"inputs: corpus_seed={first['seed']} text_md5={bench.input_md5(first['seed'])} "
            f"turns={first['turns']} triples={first['triples']} iterations={len(iters)}"
        )
        metrics = end_to_end(bench, setup_s, iters)
        if bench.trace and not any("phases" in r for r in iters):
            # per-layer figures need a pipeline that completed
            raise RuntimeError(f"traced run: no pipeline completed ({sorted(bench.failures)})")
        if bench.trace:
            metrics = per_layer(bench, iters)
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        if bench.trace:
            os.makedirs(os.path.join(root, ".perfbench_work", "traces"), exist_ok=True)
            bench.tracer.dump(os.path.join(root, ".perfbench_work", "traces",
                                           f"{args.workload}-s{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    host_after = probe()
    bench.say(f"host.after {json.dumps(host_after)}")
    failed = len(bench.failures)
    bench.say(f"error_rate: {failed}/{bench.attempted} = {failed / bench.attempted:.4f}")
    payload = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                      "failed": failed, "metrics": payload}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
