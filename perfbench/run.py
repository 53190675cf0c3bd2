"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_durable --seed 42 --seconds 5 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached per workload and seed under ``perfbench/.work``), a local
Spark session on every core is started, the workload's warm-up runs if
it has one, then operations are repeated until ``--seconds`` have
passed (at least one). Every operation's outputs are checked. The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of one traced operation (see README.md).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "ptt_spider_go_spark"
WORKLOADS = ("crawl_durable", "text_dedup")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-pins", action="store_true",
                   help="record this seed's digests in pins.json if absent")
    return p.parse_args(argv)


def program_or_exit() -> None:
    """The benchmark measures the checkout it sits in; without the
    program beside it there is nothing to measure."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # Python workers started by Spark import the program from here too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_spark(cores: int, event_log: str | None):
    from ptt_spider_go_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # spark-submit's launcher JVM too: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a run writes only inside its checkout: no hsperfdata in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp} "
                                         "-XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: Calibration rate of a quiet 4-core host. End-to-end times are
#: reported in seconds of that host: wall x (measured rate / this).
CALIB_REF_TASKS_PER_S = 400.0


def calibrate(spark, n_tasks: int = 200, reps: int = 5) -> float:
    """Task throughput of this host right now: a fixed job of
    ``n_tasks`` small tasks, median of ``reps``. A slow window on a
    shared host shows here as well as in the workload's numbers."""
    rates = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(0, 20_000 * n_tasks, numPartitions=n_tasks) \
            .selectExpr("sum(id * 7 % 13)").collect()
        rates.append(n_tasks / (time.perf_counter() - t))
    return statistics.median(rates)


def note(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def load_pins() -> dict:
    path = os.path.join(HERE, "pins.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def save_pin(workload: str, seed: int, digests: dict) -> None:
    pins = load_pins()
    pins.setdefault(workload, {}).setdefault(str(seed), digests)
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


class Checker:
    """Runs every operation's output check and keeps the tally behind
    ``attempted``, ``failed`` and ``failed_ratio``."""

    def __init__(self, wl, pinned: dict | None):
        self.wl, self.pinned = wl, pinned
        self.reference: dict | None = None   # digests of the first checked op
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def _attempt(self, label: str, op):
        self.attempted += 1
        try:
            return op()
        except Exception as e:  # a failed operation is a counted failure
            self._fail(label, [f"raised {type(e).__name__}: {e}"])
            return None

    def warm_up(self, op) -> None:
        """The warm-up only has to succeed; its inputs are cut down."""
        self._attempt("warm-up", op)

    def run(self, label: str, op):
        """Run ``op()`` and check its outcome; returns it, or None."""
        checked = self._attempt(label, lambda: self._outcome(op()))
        if checked is None:
            return None
        out, problems, got = checked
        if self.reference is None:
            self.reference = got
        problems += self._diff(got, self.pinned, "pinned")
        problems += self._diff(got, self.reference, "first op")
        if problems:
            self._fail(label, problems)
        return out

    def _outcome(self, out):
        return out, self.wl.check(out), self.wl.digests(out)

    def equal_to_reference(self, label: str, op) -> None:
        """``op()`` must give outputs identical to the checked ops."""
        got = self._attempt(label, lambda: self.wl.digests(op()))
        problems = self._diff(got, self.reference, label) if got else []
        if problems:
            self._fail(label, problems)

    @staticmethod
    def _diff(got: dict, expected: dict | None, what: str) -> list[str]:
        return [f"{name} digest {got.get(name)} != {what} {want}"
                for name, want in (expected or {}).items()
                if got.get(name) != want]

    def _fail(self, label: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems += [f"{label}: {p}" for p in problems]
        for p in problems:
            print(f"check failed ({label}): {p}", file=sys.stderr)


def per_layer(wl_name: str, tr, wl_out, untraced_wall: float, extra: dict) -> dict:
    """The per-layer metrics of one traced operation."""
    st, c = tr.self_times(), tr.counts
    res = wl_out.result
    m = {"session.start_s": extra["session_s"],
         "trace.overhead_s": wl_out.wall_s - untraced_wall,
         "machine.calib_tasks_per_s": extra["calib"]}
    if wl_name == "text_dedup":
        m.update({
            "winnow.fingerprints_s": st["winnow.fingerprints"],
            "winnow.pairs_s": st["winnow.pairs"],
            "winnow.templates_s": st["winnow.templates"],
            "cdc.chunks_s": st["cdc.chunks"],
            "cdc.stats_s": st["cdc.stats"],
            "pair_panel.s": st["pair_panel"],
            "winnow.fingerprint_rows": res["winnow_fingerprints"].count(),
            "winnow.pair_rows": res["winnow_pairs"].count(),
            "cdc.chunk_rows": res["cdc_chunks"].count(),
            "cdc.dup_char_ratio": res["cdc_dedup_stats"].first()["savings_ppm"] / 1e6,
            "pair_panel.pairs": res["pair_similarity_panel"].count(),
        })
        attributed = sum(st[k] for k in st if not k.startswith("trace."))
    else:
        steps = max(res.supersteps, 1)
        cand = c["dedup.candidates"] or 1
        m.update({
            "seeds.probe_s": st["seeds.probe"] + st["seeds.frontier"],
            "seeds.frontier_rows": c["seeds.frontier_rows"],
            "politeness.gate_s": st["politeness.robots"] + st["politeness.budget"],
            "politeness.rows_in": c["politeness.rows_in"],
            "politeness.admitted_rows": c["politeness.admitted_rows"],
            "politeness.admit_ratio": c["politeness.admitted_rows"] / (c["politeness.rows_in"] or 1),
            "retrysim.ledger_s": st["retrysim.ledger"],
            "retrysim.retry_rows": c["retrysim.retry_rows"],
            "retrysim.failed_rows": c["retrysim.failed_rows"],
            "parse.fetch_parse_s": st["parse.fetch_parse"],
            "dedup.probe_s": st["dedup.probe"],
            "dedup.bloom_add_s": st["dedup.bloom_add"],
            "dedup.cuckoo_add_s": st["dedup.cuckoo_add"],
            "dedup.candidates": c["dedup.candidates"],
            "dedup.after_bloom_rows": c["dedup.after_bloom_rows"],
            "dedup.after_cuckoo_rows": c["dedup.after_cuckoo_rows"],
            "dedup.fresh_rows": c["dedup.fresh_rows"],
            "dedup.bloom_fp_ratio": (c["dedup.after_bloom_rows"] - c["dedup.repeats"]) / cand,
            "dedup.exact_join_ratio": c["dedup.after_cuckoo_rows"] / cand,
            "checkpoint.write_s": st["checkpoint.write"],
            "checkpoint.read_s": st["checkpoint.read"],
            "checkpoint.expire_s": st["checkpoint.expire"],
            "checkpoint.bytes_written": c["checkpoint.bytes_written"],
            "checkpoint.filter_state_bytes": extra.get("filter_state_bytes", 0),
            "crawl.self_s": st["plans.crawl"],
            "crawl.supersteps": res.supersteps,
            "crawl.per_superstep_s": wl_out.extra["loop_s"] / steps,
            "assembly.s": sum(v for k, v in st.items() if k.startswith("assembly.")),
            "assembly.articles": res.articles.count(),
            "assembly.download_tasks": res.download_tasks.count(),
        })
        m.update(extra.get("parse", {}))
        attributed = sum(v for k, v in st.items()
                         if not k.startswith("trace.") and k != "plans.crawl")
    traced_layers = sum(v for k, v in st.items() if not k.startswith("trace."))
    m["trace.attributed_ratio"] = attributed / (traced_layers or 1)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    program_or_exit()
    import inputs
    import workloads

    t = time.perf_counter()
    paths, generated = inputs.cached_inputs(
        args.workload, args.seed, os.path.join(WORK, "inputs"))
    gen_s = time.perf_counter() - t

    cores = len(os.sched_getaffinity(0))
    event_log = os.path.join(WORK, "eventlog") if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)
    t = time.perf_counter()
    spark = start_spark(cores, event_log)
    session_s = time.perf_counter() - t
    try:
        report = _run(args, spark, paths, gen_s, session_s, cores, workloads)
    finally:
        stop_spark(spark)
    if report.get("window"):
        import tracing

        report["trace"].update(tracing.read_event_log(event_log, *report["window"]))
    _print(args, report, generated, gen_s, cores)
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _run(args, spark, paths, gen_s, session_s, cores, workloads):
    if args.workload == "text_dedup":
        wl = workloads.TextDedupWorkload(spark, paths, 2 * cores)
    else:
        wl = workloads.CrawlWorkload(spark, paths, WORK, 2 * cores)
    pinned = load_pins().get(args.workload, {}).get(str(args.seed))
    chk = Checker(wl, pinned)
    note("inputs open")
    # The first operation in a session pays JIT, codegen and Python
    # worker start; a cut-down run of the same plans pays most of it.
    if wl.warm_up is not None:
        chk.warm_up(wl.warm_up)
    setup_s = time.perf_counter() - T_START - gen_s
    note("warm-up done")

    durable = args.workload == "crawl_durable"
    if durable and args.trace:
        # The checkpointed crawl must equal the in-memory crawl of the
        # same inputs. A second crawl does not fit an untraced run's time;
        # traced runs make it first (every later op must match it), and
        # --write-pins makes it after measuring, so pinned digests carry
        # the equality into the untraced runs of pinned seeds.
        chk.run("in-memory crawl", wl.reference)
        note("in-memory reference done")
    calib_before = calibrate(spark)
    samples = []
    t_measure = time.perf_counter()
    while True:
        out = chk.run(f"op{len(samples) + 1}", wl.run)
        if out is not None:
            samples.append(out)
            note(f"op{len(samples)} {out.wall_s:.2f}s checked")
        if time.perf_counter() - t_measure >= args.seconds or out is None:
            break
    report = {"samples": samples, "chk": chk, "setup_s": setup_s,
              "session_s": session_s, "pinned": pinned, "trace": None,
              "calib": (calib_before + calibrate(spark)) / 2}
    if args.trace and samples:
        report.update(_traced(args, spark, wl, chk, samples, report))
    if durable and args.write_pins and not args.trace and samples:
        chk.equal_to_reference("in-memory crawl", wl.reference)
        note("in-memory reference compared")
    if args.write_pins and chk.failed == 0 and chk.reference:
        save_pin(args.workload, args.seed, chk.reference)
    return report


def _print(args, report, generated, gen_s, cores) -> None:
    samples, chk = report["samples"], report["chk"]
    def med(xs):
        xs = [x for x in xs if x is not None]
        return statistics.median(xs) if xs else 0.0

    # The shared host's speed swings by tens of percent within minutes;
    # the calibration job bracketing the timed ops swings with it, so
    # times scaled by it compare across runs. Raw walls print below.
    host = report["calib"] / CALIB_REF_TASKS_PER_S
    summary = {
        "setup_s": (report["setup_s"] * host, "s"),
        "throughput_per_s": (med([s.items / s.wall_s for s in samples]) / host, "1/s"),
        "first_result_s": (med([s.first_s for s in samples]) * host, "s"),
    }
    named = {"failed_ratio": (chk.failed / max(chk.attempted, 1), "ratio"),
             "machine.calib_tasks_per_s": (report["calib"], "1/s"),
             "raw.setup_s": (report["setup_s"], "s"),
             "raw.op_wall_s": (med([s.wall_s for s in samples]), "s"),
             "raw.first_result_s": (med([s.first_s for s in samples]), "s"),
             "input_gen_s": (gen_s, "s"),
             "session.start_s": (report["session_s"], "s")}
    if args.workload == "text_dedup":
        named["docs_per_s"] = summary["throughput_per_s"]
    else:
        named["crawl_urls_per_s"] = (
            med([s.extra["fetched"] / s.wall_s for s in samples]) / host, "1/s")
        named["attempted_urls"] = (med([s.items for s in samples]), "count")
        named["fetched_urls"] = (med([s.extra["fetched"] for s in samples]), "count")
        named["supersteps"] = (med([s.extra["supersteps"] for s in samples]), "count")
        named["first_commit_s"] = summary["first_result_s"]
        named["ckpt_bytes"] = (med([s.extra["ckpt_bytes"] for s in samples]), "bytes")

    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"samples={len(samples)} inputs={'generated' if generated else 'cached'} "
          f"pinned={'yes' if report['pinned'] else 'no'}")
    for name, (v, unit) in {**summary, **named}.items():
        print(f"  {name:32s} {v:16.4f} {unit}")
    trace_metrics = report["trace"] or {}
    units = _per_layer_units()
    for name in sorted(trace_metrics):
        print(f"  {name:32s} {trace_metrics[name]:16.4f} {units.get(name, '')}")
    for p in chk.problems:
        print(f"  FAILED {p}")

    if args.trace:
        metrics = {k: {"value": float(trace_metrics.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in summary.items()}
    print(json.dumps({"correct": chk.failed == 0 and bool(samples),
                      "attempted": chk.attempted, "failed": chk.failed,
                      "metrics": metrics}))


def _traced(args, spark, wl, chk, samples, report) -> dict:
    """One traced operation after the untraced ones. Returns its
    per-layer metrics and the wall-clock window whose tasks the Spark
    event log is read for."""
    import tracing
    import workloads

    tr = tracing.Tracer(run_id=f"{args.workload}-s{args.seed}")
    untraced = statistics.median(s.wall_s for s in samples)
    t_from = int(time.time() * 1000)
    if args.workload == "text_dedup":
        out = chk.run("traced", lambda: wl.run(tracer=tr))
    else:
        with tracing.traced_crawl(tr):
            out = chk.run("traced", lambda: wl.run(tracer=tr))
    t_to = int(time.time() * 1000)
    if out is None:
        return {}
    extra = {"session_s": report["session_s"], "calib": report["calib"]}
    if args.workload != "text_dedup":
        extra["filter_state_bytes"] = workloads.dir_bytes(
            os.path.join(wl.ckpt_dir, "filters"))
        extra["parse"] = tracing.parse_replay(
            spark, wl.pages, tr.captured["ok"], wl.shape["push_rate"])
    m = per_layer(args.workload, tr, out, untraced, extra)
    tr.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
    return {"trace": m, "window": (t_from, t_to)}


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
