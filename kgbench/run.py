"""Layered KG-construction benchmark.

    python3 kgbench/run.py --workload fused_crawl --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (before any Spark session),
sets up (session, warm-up, parser build + broadcast), then repeats the
workload's commit for ``--seconds``. Every committed store is checked against
an expected digest from a second public path of the package, and a fixed
page sample is replayed through ``Parser.run`` on the driver.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` times the
workload untraced, traced and untraced again, and prints the per-layer
metrics. Metric names and units are those BENCHMARK.json declares. The last
line of standard output is one JSON object; lines before it, starting with
``#``, describe the inputs and the run. Exit status is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".kgbench")
MAX_CORES = 4
KERNEL_PAGES = 150  # pages in the driver-side kernel replay
KERNEL_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["fused_crawl", "checkpointed_crawl", "incremental_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def declared(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of every ``kind`` metric in BENCHMARK.json, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def start_session(work: str, cores: int):
    from gazetteer_entity_parser_spark.session import build_session

    return build_session(
        "kgbench", parallelism=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads every job back after the timed region
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def warm_up(spark, cores: int) -> None:
    """First Python-worker job: forks the workers and imports pandas."""
    spark.range(0, 1000 * cores, numPartitions=cores).mapInPandas(
        lambda it: it, "id long").count()


def timed(ctx, wl, seconds: float) -> list:
    """Whole reps until ``seconds`` have passed (at least one)."""
    reps = []
    t_end = time.perf_counter() + seconds
    while True:
        reps.append(wl.rep(ctx, ctx.next_rep()))
        if time.perf_counter() >= t_end:
            return reps


def peak_rss_mb() -> float:
    """Sum of peak resident sets: this driver, the JVM and every process
    below the JVM (Python workers). Read from /proc before Spark stops."""
    from pyspark import SparkContext

    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is None:
        return total_kb / 1024
    parents: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree = {jvm.pid}
    grew = True
    while grew:
        kids = {p for p, pp in parents.items() if pp in tree} - tree
        grew = bool(kids)
        tree |= kids
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def kernel_metrics(parser, rows) -> dict:
    """Driver replay of a fixed page sample, no Spark: tokenizer and matcher
    throughput over the operator's windows, median of KERNEL_REPS."""
    from gazetteer_entity_parser_spark.kernel.tokenizer import tokenize
    from gazetteer_entity_parser_spark.operators.extract import iter_windows
    from stats import median
    from workloads import WINDOW_TOKENS

    windows = [(w[3], w[4]) for _u, text in rows if text
               for w in iter_windows(text, WINDOW_TOKENS)]
    n_tok = sum(len(t) for _w, t in windows)
    texts = [w for w, _t in windows]
    for w, t in windows[:50]:
        parser.run(w, 0, tokens=t)  # builds the lane's lookup tables
    tok_s, match_s, mentions = [], [], 0
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        for w in texts:
            tokenize(w)
        t1 = time.perf_counter()
        mentions = 0
        for w, t in windows:
            mentions += len(parser.run(w, 0, tokens=t))
        t2 = time.perf_counter()
        tok_s.append(n_tok / (t1 - t0))
        match_s.append(n_tok / (t2 - t1))
    # which lane Parser.run took: the package reports it nowhere public yet
    lane = ("single_token" if parser._single_token_lookup() is not None
            else "le2" if parser._le2_lookup() is not None else "general")
    return {"kernel.tokenize_tok_per_s": median(tok_s), "kernel.match_tok_per_s": median(match_s),
            "kernel.mentions_per_tok": mentions / n_tok, "_lane": lane, "_tokens": n_tok}


def layer_metrics(ctx, wl, reps, tracer, status, cores) -> tuple[dict, dict]:
    """Per-layer metrics of the traced reps (median over reps) and the
    per-span Spark metrics for the span file."""
    import pyarrow.parquet as pq

    from stats import median
    from spans import covered, udf_usage
    from workloads import dir_bytes

    plan = wl.triples_plan(reps[-1])._jdf.queryExecution().executedPlan().toString()
    exchanges = sum(1 for line in plan.splitlines() if "Exchange" in line)
    probe = wl.udf_probe(ctx)
    if probe is not None:
        with tracer.span("operators.extract.extract_mentions") as sp:
            probe.write.format("noop").mode("overwrite").save()
        status.drain()
        probe_udf, _ = udf_usage(status.executions(status.jobs_for_group(sp.group)))
    per_rep: list[dict] = []
    span_extra: dict[int, dict] = {}
    everything = (float("-inf"), float("inf"))
    for rep in reps:
        root = rep.span
        groups = [s.group for s in tracer.spans
                  if s.group and root.start <= s.start and s.end <= root.end]
        if "run_id" in rep.extra:
            groups.append(rep.extra["run_id"])
        jobs = sorted({j for g in groups for j in status.jobs_for_group(g)})
        stages = status.stages(jobs)
        execs = status.executions(jobs)
        udf, ext_ids = udf_usage(execs)
        scope = wl.scopes(rep, status, execs)
        tri_jobs, sink_jobs = set(scope["triples"]), set(scope["sinks"])
        tri = status.stages(sorted(tri_jobs))
        sink = status.stages(sorted(sink_jobs))
        if probe is not None:
            # the UDF runs in each batch's source stage: the triples-scope
            # stage that reads no shuffle
            ext_ids = {s.stage_id for s in tri if s.shuffle_read == 0}
            udf = {k: v * len(rep.commits) for k, v in probe_udf.items()}
        ext = [s for s in stages if s.stage_id in ext_ids]
        writes = [m for e in execs if set(e.jobs) & sink_jobs for name, m in e.nodes
                  if "InsertIntoHadoopFsRelationCommand" in name]
        store = pq.read_table(os.path.realpath(rep.store), columns=["weight"])
        skews = []
        for s in ext:
            if s.task_s:
                med = median(s.task_s)
                skews.append(max(s.task_s) / med if med > 0 else 1.0)
        run_s = sum(s.run_s for s in stages)
        sink_s = wl.sink_seconds(rep)

        per_rep.append({
            "extract.wall_s": covered([(s.start, s.end) for s in ext], *everything),
            "extract.python_run_s": udf.get("time to run Python workers", 0.0),
            "extract.python_start_s": udf.get("time to start Python workers", 0.0)
            + udf.get("time to initialize Python workers", 0.0),
            "extract.bytes_to_python": udf.get("data sent to Python workers", 0.0),
            "extract.bytes_from_python": udf.get("data returned from Python workers", 0.0),
            "extract.rows_out": udf.get("number of output rows", 0.0),
            "extract.task_skew": median(skews) if skews else 1.0,
            "triples.wall_s": covered([(s.start, s.end) for s in tri if s.stage_id not in ext_ids],
                                      *everything),
            "triples.shuffle_write_bytes": sum(s.shuffle_write for s in tri),
            "triples.shuffle_read_bytes": sum(s.shuffle_read for s in tri),
            "triples.pairs": int(store.column("weight").to_numpy().sum()) - wl.seed_weight,
            "triples.canonical_rows": store.num_rows,
            "triples.exchanges": exchanges,
            "sinks.merge_s": sink_s if sink_s is not None
            else covered([(s.start, s.end) for s in sink], *everything),
            "sinks.touched_buckets": sum(m.get("number of dynamic part", (0.0,))[0]
                                         for m in writes),
            "sinks.bytes_written": sum(m.get("written output", (0.0,))[0] for m in writes),
            "sinks.store_bytes": dir_bytes(rep.store),
            "sinks.parquet_merges": sum(1 for k in rep.sinks if k == "parquet"),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.tasks for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s.cpu_s for s in stages),
            "spark.spill_bytes": sum(s.spill for s in stages),
            "spark.idle_share": 1.0 - run_s / (rep.wall * cores),
        })
    for s in tracer.spans:
        if s.group:
            sj = status.jobs_for_group(s.group)
            st = status.stages(sj)
            span_extra[s.span_id] = {
                "jobs": sj, "stages": len(st), "tasks": sum(x.tasks for x in st),
                "executor_run_s": sum(x.run_s for x in st),
                "shuffle_write_bytes": sum(x.shuffle_write for x in st),
                "shuffle_read_bytes": sum(x.shuffle_read for x in st),
            }
    keys = per_rep[0].keys()
    return {k: median([r[k] for r in per_rep]) for k in keys}, span_extra


def check_stores(reps, expected, ops) -> list[str]:
    from workloads import store_digest

    want = tuple(expected)
    bad = []
    for rep in reps:
        got = store_digest(rep.store)
        ops.record(got == want)
        if got != want:
            bad.append(f"{rep.store}: {got} != {want}")
    return bad


class Ops:
    """Attempted and failed operations: runs, micro-batches and checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        self.failed += 0 if ok else n


def say(label: str, payload) -> None:
    print(f"# {label} {json.dumps(payload, sort_keys=True)}", flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import gazetteer_entity_parser_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    import gen
    from stats import median, tail
    from spans import SparkStatus, Tracer
    from workloads import Context, WORKLOADS, parser_bytes, replay_mentions, sample_rows

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers, the JVM and Spark's scratch space stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts: temp files in the checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    t_run = time.perf_counter()
    phases: dict[str, float] = {}
    inputs = gen.GENERATORS[args.workload](args.seed)
    paths = gen.write_inputs(inputs, os.path.join(work, "inputs"))
    say("inputs", inputs.props)
    del inputs
    phases["generate_s"] = time.perf_counter() - t_run

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        start_s = time.perf_counter() - t0
        tracer = Tracer(run_id, spark.sparkContext, enabled=bool(args.trace))
        t0 = time.perf_counter()
        with tracer.span("session.warmup"):
            warm_up(spark, cores)
        warmup_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload]()
        ctx = Context(spark, paths, work, args.seed, tracer)
        wl.setup(ctx)
        build = [b + c for b, c in zip(wl.build_s, wl.broadcast_s)]
        setup_s = start_s + warmup_s + (median(build) if build else 0.0)
        if args.trace and wl.parser is None:
            wl.builder_replica(ctx)
        wl.prepare(ctx)
        phases["setup_total_s"] = time.perf_counter() - t_run - phases["generate_s"]

        tracer.enabled = False
        # computed on every run, so it always matches the code under test;
        # it runs the same operators as a rep, so it also warms the JIT
        t0 = time.perf_counter()
        expected = wl.expected(ctx)
        phases["expected_s"] = time.perf_counter() - t0

        ops = Ops()
        t_timed = time.perf_counter()
        wl.warm(ctx)
        phases["warm_s"] = time.perf_counter() - t_timed
        t_timed = time.perf_counter()
        if args.trace:
            # untraced passes on both sides of the traced one, so a drift
            # while the process warms cancels out of the overhead
            base = timed(ctx, wl, args.seconds)
            tracer.enabled = True
            reps = timed(ctx, wl, args.seconds)
            tracer.enabled = False
            base += timed(ctx, wl, args.seconds)
            tracer.enabled = True
        else:
            base, reps = [], timed(ctx, wl, args.seconds)
        for rep in base + reps:
            ops.record(True)  # the rep committed without raising
            if "expected_batches" in rep.extra:
                ops.record(True, len(rep.commits))
                ops.record(False, rep.extra["expected_batches"] - len(rep.commits))

        phases["timed_s"] = time.perf_counter() - t_timed
        t_check = time.perf_counter()
        bad = check_stores(base + reps, expected, ops)
        phases["digest_s"] = time.perf_counter() - t_check
        rows = sample_rows(paths["pages"], args.seed)
        replay_ok = replay_mentions(wl.sample_parser(reps[-1]), rows) == wl.spark_sample(
            ctx, rows, reps[-1])
        ops.record(replay_ok)
        if not replay_ok:
            bad.append("driver replay of the page sample differs from the Spark mentions")

        phases["check_s"] = time.perf_counter() - t_check
        docs_per_s = median([r.pages / r.wall for r in reps])
        commits = [c for r in reps for c in r.commits]
        tail_v, tail_pct, n_commits = tail(commits)
        say("commit_s.tail", {"value": tail_v, "percentile": tail_pct, "samples": n_commits,
                              "reps": len(reps)})
        say("reps", {"wall_s": [r.wall for r in base + reps], "commits": [r.commits for r in reps]})
        say("ops", {"attempted": ops.attempted, "failed": ops.failed,
                    "failed_ops": ops.failed / ops.attempted, "sink": sorted(
                        {k for r in reps for k in r.sinks})})
        if "stage_seconds" in reps[0].extra:
            say("pipeline", {**{f"pipeline.{k[0]}_s": median([r.extra["stage_seconds"][k]
                                                              for r in reps])
                                for k in reps[0].extra["stage_seconds"]},
                             "pipeline.checkpoint_bytes": reps[0].extra["checkpoint_bytes"]})
        if "add_batch" in reps[0].extra:
            adds = [a for r in reps for a in r.extra["add_batch"]]
            say("stream", {"stream.batches": len(commits),
                           "stream.add_batch_s.p50": median(adds),
                           "stream.overhead_s.p50": median(
                               [c - a for c, a in zip(commits, adds)])})
        for b in bad:
            print(f"# FAILED {b}", flush=True)

        if args.trace:
            status = SparkStatus(spark)
            status.drain()
            layers, span_extra = layer_metrics(ctx, wl, reps, tracer, status, cores)
            kern = kernel_metrics(wl.parser, sample_rows(paths["pages"], args.seed + 1,
                                                         KERNEL_PAGES))
            say("kernel", {"lane": kern.pop("_lane"), "tokens": kern.pop("_tokens")})
            base_rate = median([r.pages / r.wall for r in base])
            values = {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "builder.build_s": median(wl.build_s),
                "builder.broadcast_s": median(wl.broadcast_s),
                "builder.spark_jobs": len(status.jobs_for_group(wl.build_spans[-1].group)),
                "builder.parser_bytes": parser_bytes(wl.parser),
                **kern,
                **layers,
                "proc.peak_rss_mb": peak_rss_mb(),
                "trace.overhead": 1.0 - docs_per_s / base_rate,
            }
            os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
            span_path = os.path.join(WORK_ROOT, "spans", f"{run_id}.jsonl")
            tracer.write(span_path, span_extra)
            say("spans", {"path": os.path.relpath(span_path, ROOT), "count": len(tracer.spans),
                          "untraced_docs_per_s": base_rate, "traced_docs_per_s": docs_per_s})
        else:
            values = {
                "docs_per_s": docs_per_s,
                "setup_s": setup_s,
                "commit_s.p50": median(commits),
            }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    phases["total_s"] = time.perf_counter() - t_run
    say("phases", phases)
    correct = ops.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, unit in declared("per_layer" if args.trace else "end_to_end")},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
