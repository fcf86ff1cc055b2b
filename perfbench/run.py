"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

It builds the engine and its JVM harness from source (perfbench/build.py),
generates the fixture (perfbench/gen.py), caches the DuckDB oracle's answers
(perfbench/oracle.py), runs the workload on local[<all cores>] in one JVM,
checks every output against the oracle, writes a run record under
perfbench/.work/runs/ and prints one JSON line: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`.

The seed permutes each workload's query order (seed 0 is sorted order, as
graft.Bench runs); the fixture is the same for every seed, so the oracle's
answers are computed once per checkout.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BENCH, ROOT, WORK = build.BENCH, build.ROOT, build.WORK
BASE_SCALE = 0.01
DATA_SEED = 42
ETL_FACTOR = 10
HEAP = "3g"
# JVM step time limits: the harness runs in every run; fixture scaling and
# oracle SQL export only in a checkout's first runs
HARNESS_TIMEOUT_S = 150
PREP_TIMEOUT_S = 600

# The mix: short production queries from every query family, and two
# that write stored artifacts through graft.sources: the paper's append
# sink into a Scratch directory, and a snapshot commit and delete
# (Snapshots).
MIX = ("q01_dim_decode_join q16_topk_per_group q26_salted_join "
       "q43_grouping_sets q88_countmin "
       "q56_append_sink_roundtrip q75_snapshot_delete "
       "e03_sessionize e19_cuped "
       "t01_token_stats "
       "d01_dedup_exact d07_dedup_clusters "
       "s01_knn_brute s17_knn_int8_rescore").split()

# fixture: "base" is the generated fixture, "x10" its graft.ScaleUp 10x copy
WORKLOADS = {
    "etl_flagship_x10": dict(
        queries=["flagship_location_summary", "flagship_sql"],
        fixture="x10", append=True),
    "query_mix": dict(queries=MIX, fixture="base", append=False),
}

# The oracle unrolls ExtensionQueries.ClusterRounds (8) rounds of label
# propagation while the engine iterates to convergence; on a fixture whose
# candidate graph is deeper than 8 rounds the two disagree, and a mismatch
# is reported with this cause rather than hidden.
ORACLE_LIMITS = {
    "d07_dedup_clusters": "oracle unrolls only ClusterRounds=8 "
    "label-propagation rounds (ExtensionQueries.scala:129); the engine "
    "runs to convergence"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm_cmd(classes, main, *args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap size: no resizing from run to run
    return ["java", *flags, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK}/tmp",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            f"-Dspark.local.dir={WORK}/spark-local",
            f"-Dspark.sql.warehouse.dir={WORK}/warehouse",
            "-cp", f"{classes}:{build.spark_jars()}/*", main, *map(str, args)]


def run_jvm(cmd, timeout):
    """Run a JVM step in its own process group; kill the group on timeout.
    Its stdout and stderr go to our stderr."""
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=f"{WORK}/scratch")
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[-1]} step timed out")
    if code != 0:
        raise SystemExit(f"perfbench: JVM step failed with exit code {code}")


def fixture(kind, classes):
    """Path of the fixture, made once per checkout and reused: the base is
    generated, keyed by gen.py's content, scale and seed; x10 is
    graft.ScaleUp of the base, keyed by source and factor."""
    with open(gen.__file__, "rb") as fh:
        gen_digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    base = os.path.join(WORK, "data",
                        f"base_sf{BASE_SCALE}_seed{DATA_SEED}_{gen_digest}")
    if not os.path.isdir(base):
        log(f"generating fixture {base}")
        gen.write(base, BASE_SCALE, DATA_SEED)
    if kind == "base":
        return base
    scaled = f"{base}_x{ETL_FACTOR}"
    if not os.path.isdir(scaled):
        log(f"scaling fixture to {scaled}")
        shutil.rmtree(scaled + ".tmp", ignore_errors=True)
        run_jvm(jvm_cmd(classes, "graft.ScaleUp", base, scaled + ".tmp",
                        ETL_FACTOR), PREP_TIMEOUT_S)
        os.replace(scaled + ".tmp", scaled)
    return scaled


def oracle_answers(queries, data, classes, digest):
    sql_file = os.path.join(WORK, "oracle", f"sql-{digest[:16]}.json")
    if not os.path.exists(sql_file):
        os.makedirs(os.path.dirname(sql_file), exist_ok=True)
        everything = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
        run_jvm(jvm_cmd(classes, "graft.perfbench.OracleSql", sql_file + ".tmp",
                        ",".join(everything)), PREP_TIMEOUT_S)
        os.replace(sql_file + ".tmp", sql_file)
    with open(sql_file) as fh:
        sqls = json.load(fh)
    return oracle.expected(data, {q: sqls[q] for q in queries},
                           os.path.join(WORK, "oracle", "answers"), f"{WORK}/tmp")


def git_commit():
    """HEAD of the checkout, or None when it is not a git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, timeout=10)
    return out.stdout.strip() if out.returncode == 0 else None


def check(raw, answers, dump):
    """(wrong queries, failures) for the run: each wrong query with the
    reason it differs and, where known, the cause."""
    reasons = {}
    for q in raw["first_pass"]["queries"]:
        if "error" not in q:
            why = oracle.compare(dump, q["name"], answers[q["name"]],
                                 f"{WORK}/tmp")
            if why:
                reasons[q["name"]] = why
    for p in raw["passes"]:
        for q in p["queries"]:
            want = len(answers[q["name"]][1])
            if "error" not in q and q["rows"] != want:
                reasons.setdefault(q["name"], f"pass {p['index']} counted "
                                   f"{q['rows']} rows, oracle {want}")
    wrong = {q: {"reason": why, "cause": ORACLE_LIMITS.get(q)}
             for q, why in sorted(reasons.items())}
    return wrong, metrics.failures(raw)


def correct(wrong, failed):
    return not wrong and not failed


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args(argv)
    spec = WORKLOADS[a.workload]
    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    classes, digest = build.build()
    data = fixture(spec["fixture"], classes)
    answers = oracle_answers(spec["queries"], data, classes, digest)

    order = sorted(spec["queries"])
    if a.seed != 0:
        random.Random(a.seed).shuffle(order)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    dump = f"{WORK}/dump"
    raw_file = f"{dump}/raw.json"
    scratch = (dump, f"{WORK}/scratch", f"{WORK}/spark-local")
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    run_jvm(jvm_cmd(classes, "graft.perfbench.Harness",
                    "--data", data, "--queries", ",".join(order),
                    "--seconds", a.seconds, "--trace", a.trace,
                    "--append", int(spec["append"]), "--dump", dump,
                    "--scratch", f"{WORK}/scratch", "--out", raw_file),
            HARNESS_TIMEOUT_S)
    with open(raw_file) as fh:
        raw = json.load(fh)
    wrong, failed = check(raw, answers, dump)
    n_attempted = metrics.attempted(raw)
    printed = metrics.printed(raw, a.trace, len(wrong), len(order))
    units = {m["name"]: m["unit"] for m in declared_metrics()[a.trace]}
    record = _record(a, raw, data, digest, order, printed, wrong, failed)
    os.makedirs(f"{WORK}/runs", exist_ok=True)
    with open(f"{WORK}/runs/{tag}.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({
        "correct": correct(wrong, failed),
        "attempted": n_attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in sorted(printed.items())}}))
    return 0


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {0: spec["end_to_end"], 1: spec["per_layer"]}


def _record(a, raw, data, digest, order, printed, wrong, failed):
    """The machine-readable run record: enough to attribute a total swing
    to a query and a layer without a rerun."""
    untraced = [p for p in raw["passes"] if not p["traced"]]
    samples = [t for ts in metrics.query_times(untraced).values() for t in ts]
    p90 = metrics.tail_percentile(samples)
    per_query = {f"q.{q}_s": statistics.median(ts)
                 for q, ts in sorted(metrics.query_times(untraced).items())}
    return {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cpus": raw["cpus"], "fixture": os.path.relpath(data, ROOT),
        "git_commit": git_commit(), "source_sha256": digest,
        "spark_version": raw["spark_version"], "java_version": raw["java_version"],
        "query_order": order,
        "metrics": printed | metrics.shares(raw, len(wrong), len(order)),
        "query_p90_s": p90, "query_samples": len(samples),
        "query_p90_note": None if p90 is not None else
        "omitted: fewer than 10 samples lie beyond the 90th percentile",
        "per_query_median_s": per_query,
        "warm_setup_s": raw["warm_setup_s"],
        "first_pass": raw["first_pass"],
        "passes": raw["passes"],
        "self_s": raw["self_s"],
        "failures": [dict(zip(("pass", "query", "class", "message"), f))
                     for f in failed],
        "wrong": wrong,
        "spans": raw["spans"],
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
