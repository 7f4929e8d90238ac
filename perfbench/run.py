#!/usr/bin/env python3
"""Benchmark of the per-assay proteomics commands.

    python3 perfbench/run.py --workload assay_chain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
tracer from source (sbt, offline) into ``.bench_build``; every run then
generates its inputs from ``--seed``, runs the workload, checks the
outputs and prints one JSON result as the last line of stdout.

``--trace 0`` times a cold ``graft.Cli spectra-json-check`` on a
one-spectrum input (set-up) and a cold ``graft.Cli generate-index-files``
process, as a per-assay batch task runs it, and reports the end-to-end
metrics. ``--trace 1`` runs the workload's command chain (for assay_chain
through perform-inference) through ``graft.Cli.run`` in one JVM, then the
commands' layer composition with spans in a second JVM, and reports the
per-layer metrics. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
TRACER = os.path.join(HERE, "tracer")
DEFAULT_SEED = 1
PROJECT = "PXD000001"
# Fixed JVM heap: RSS and GC figures then compare across boxes, and the
# generated inputs need well under 1 GB of heap. A larger heap lets G1 grow
# eden lazily, so peak RSS would track GC timing more than the work.
HEAP = "2g"
BUILD_TIMEOUT_S = 840
OP_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
    "index_s": "s", "ok_ratio": "ratio",
}


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def _source_stamp():
    """Hash of what the build reads: the program's sources and build.sbt,
    and the tracer's sources and build definition."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(TRACER, "build.sbt"),
             os.path.join(TRACER, "project", "build.properties")]
    for root in (os.path.join(ROOT, "src", "main"), os.path.join(TRACER, "src")):
        for d, dirs, files in os.walk(root):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the tracer; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no program sources at src/main/scala under %s" % ROOT)
    os.makedirs(BUILD, exist_ok=True)
    stamp = _source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log("building program and tracer (sbt)")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=TRACER, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        raise BenchError("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed (sbt exit %d)" % p.returncode)
    cp = [line for line in p.stdout.splitlines() if ".jar" in line and ":" in line
          and not line.startswith("[")]
    if not cp:
        raise BenchError("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("build took %.1f s" % (time.time() - t0))
    return cp[-1].strip()


# ---------------------------------------------------------- environment --

def nproc():
    return len(os.sched_getaffinity(0))


def jvm_cmd(classpath, main):
    return (["java", "-Xmx" + HEAP] +
            ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-cp", classpath, main])


def jvm_env():
    cpus = str(nproc())
    local = os.path.join(BUILD, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    return dict(os.environ, SPARK_MASTER="local[%s]" % cpus, SPARK_GRAFT_CPUS=cpus,
                SPARK_LOCAL_DIRS=local)


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def run_info(workload, seed, trace):
    commit = None
    try:
        # the ceiling keeps git from reporting an enclosing repository
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10, env=dict(
                                    os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
                                ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "workload": workload, "seed": seed, "trace": trace, "nproc": nproc(),
        "commit": commit, "source_sha256": _source_stamp(),
        "jvm": {"heap": HEAP, "java": shutil.which("java"),
                "flags": ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]},
        "spark": {"master": "local[%d]" % nproc(), "SPARK_GRAFT_CPUS": nproc(),
                  "spark.sql.shuffle.partitions": nproc(), "spark.sql.adaptive.enabled": True},
        "python": platform.python_version(), "loadavg_start": loadavg(),
    }


# ------------------------------------------------------------ processes --

def run_process(argv, cwd, name, env=None):
    """Runs one JVM process to completion. Returns (wall_s, cpu_s,
    peak_rss_mb, exit_code, stdout); stderr goes to ``<name>.log``.
    ``env`` overrides entries of the JVM environment."""
    out_path = os.path.join(cwd, name + ".out")
    t0 = time.perf_counter()
    with open(out_path, "w") as out, open(os.path.join(cwd, name + ".log"), "w") as err:
        p = subprocess.Popen(argv, cwd=cwd, env=dict(jvm_env(), **(env or {})),
                             stdout=out, stderr=err)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.perf_counter() - t0 > OP_TIMEOUT_S:
                p.kill()
                os.wait4(p.pid, 0)
                raise BenchError("timed out: %s" % name)
            time.sleep(0.01)
    wall = time.perf_counter() - t0
    p.returncode = os.waitstatus_to_exitcode(status)
    with open(out_path) as f:
        stdout = f.read()
    return wall, ru.ru_utime + ru.ru_stime, ru.ru_maxrss / 1024.0, p.returncode, stdout


# ------------------------------------------------------------ workloads --

def commands(workload, facts, out, full=False):
    """The CLI chain of a workload: (name, argv tail). Untraced runs time
    generate-index-files as one cold process (the set-up probe is a cold
    spectra-json-check); ``full`` is assay_chain's whole production chain,
    which the traced run composes: index -> spectra-json-check ->
    generate-mgf-files -> perform-inference --native-cluster."""
    index = ["generate-index-files", "--mzid", ",".join(facts["mzid"]),
             "--spectra", facts["spectra"], "--project-accession", PROJECT,
             "--out", os.path.join(out, "idx")]
    if workload == "project_many_files" or not full:
        return [("index", index)]
    valid = os.path.join(out, "valid")
    return [
        ("index", index),
        ("check", ["spectra-json-check", "--spectra-json",
                   os.path.join(out, "idx", "archive_spectra"), "--out", valid]),
        ("mgf", ["generate-mgf-files", "--spectra-json", valid, "--out", os.path.join(out, "mgf")]),
        ("inference", ["perform-inference", "--native-cluster", "--spectra-json", valid,
                       "--out", os.path.join(out, "inf")]),
    ]


def check_op(name, out, facts, exp, stdout_counts):
    """Checks one command's outputs; ``exp`` holds the row counts and
    digests they must have (None: check the invariants only)."""
    if name == "index":
        return checks.check_index(out, facts, exp, *stdout_counts)
    if name == "check":
        return checks.check_valid(out, exp)
    if name == "mgf":
        return checks.check_mgf(out, exp)
    return checks.check_inference(out, exp)


def parse_graft_counts(stdout):
    for line in stdout.splitlines():
        if line.startswith("[graft] nr_psms="):
            kv = dict(x.split("=") for x in line.split()[1:])
            return int(kv["nr_psms"]), int(kv["nr_decoys"])
    return None, None


EXPECTED = os.path.join(HERE, "expected.json")


def load_expected(workload, seed):
    """Outputs recorded for the default seed (``--record`` writes them)."""
    if seed != DEFAULT_SEED:
        return None
    with open(EXPECTED) as f:
        return json.load(f).get(workload, {})


def expected_op(expected, name):
    """The recorded outputs of one command, None for a seed without
    records. A command missing from the records of the default seed
    fails its check."""
    if expected is None:
        return None
    return expected.get(name, {})


def record_expected(workload, outputs):
    with open(EXPECTED) as f:
        data = json.load(f)
    data.setdefault(workload, {}).update(outputs)
    with open(EXPECTED, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def setup_probe(classpath, work):
    """One graft.Cli spectra-json-check process over a one-spectrum input."""
    tiny = gen.tiny(os.path.join(work, "tiny"))
    out = os.path.join(work, "tiny_out")
    wall, _, rss, rc, stdout = run_process(
        jvm_cmd(classpath, "graft.Cli") + ["spectra-json-check", "--spectra-json", tiny, "--out", out],
        work, "setup")
    ok = rc == 0 and "[graft] valid_spectra=1" in stdout
    shutil.rmtree(out, ignore_errors=True)
    return wall, rss, ok


def untraced(workload, seed, seconds, classpath, work, expected):
    facts = gen.GENERATORS[workload](seed, os.path.join(work, "inputs"))
    setup, walls, cpus, per_cmd = [], [], [], {}
    attempted = failed = 0
    peak_rss = 0.0
    record = {}
    t_start = time.perf_counter()
    while True:
        wall, rss, ok = setup_probe(classpath, work)
        peak_rss = max(peak_rss, rss)
        attempted += 1
        failed += not ok
        setup.append(wall)
        out = os.path.join(work, "out")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        cpu = 0.0
        for name, args in commands(workload, facts, out):
            wall, c, rss, rc, stdout = run_process(jvm_cmd(classpath, "graft.Cli") + args, work, name)
            cpu += c
            peak_rss = max(peak_rss, rss)
            attempted += 1
            per_cmd.setdefault(name, []).append(wall)
            errs = ["%s: exit %d" % (name, rc)] if rc != 0 else []
            if not errs:
                got, errs = check_op(name, out, facts, expected_op(expected, name),
                                     parse_graft_counts(stdout))
                record[name] = got
            for e in errs:
                log("CHECK FAILED " + e)
            failed += bool(errs)
            if rc != 0:
                break
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu)
        if time.perf_counter() - t_start >= seconds:
            break
    metrics = {
        "setup_s": statistics.median(setup),
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak_rss,
        "index_s": statistics.median(per_cmd["index"]),
        "ok_ratio": 1.0 - failed / attempted,
    }
    detail = {"passes": len(walls), "setup_samples": setup, "wall_samples": walls,
              "cpu_samples": cpus, "command_walls": per_cmd, "outputs": record, "facts": {
                  k: v for k, v in facts.items() if k not in ("mzid", "spectra")}}
    return metrics, {k: END_TO_END[k] for k in metrics}, attempted, failed, detail


# per-layer metric name -> (unit, how to read it from the traced TraceRun summary)
PER_LAYER = {
    "io.mzid_parse_s": ("s", "self.io.mzid_parse"),
    "io.mzid_rows": ("count", "io.mzid_rows"),
    "io.spectra_read_s": ("s", "self.io.spectra_read"),
    "io.spectra_rows": ("count", "io.spectra_rows"),
    "io.json_write_s": ("s", "self.io.json_write"),
    "io.json_mb": ("MB", "io.json_mb"),
    "io.json_read_s": ("s", "self.io.json_read"),
    "io.mgf_write_s": ("s", "self.io.mgf_write"),
    "fdr.qvalue_s": ("s", "self.fdr.qvalue"),
    "fdr.pass_ratio": ("ratio", lambda s: s["fdr.passed"] / max(s["fdr.psms"], 1.0)),
    "fdr.protein_s": ("s", "self.fdr.protein"),
    "pipeline.index_build_s": ("s", "self.pipeline.index_build"),
    "pipeline.index_outputs_s": ("s", "self.pipeline.index_outputs"),
    "pipeline.psm_merge_s": ("s", "self.pipeline.psm_merge"),
    "pipeline.join_match_ratio": (
        "ratio", lambda s: s["pipeline.archive_rows"] / max(s["fdr.past_filters"], 1.0)),
    "pipeline.psm_merge_ratio": (
        "ratio", lambda s: s["pipeline.merge_sets"] / s["pipeline.merge_rows_in"]
        if s["pipeline.merge_rows_in"] else 1.0),
    "pipeline.cluster_inference_s": ("s", "self.pipeline.cluster_inference"),
    "operators.cluster_s": ("s", "self.operators.cluster"),
    "operators.cluster_edges": ("count", "operators.cluster_edges"),
    "operators.global_index_s": ("s", "self.operators.global_index"),
    "query.construct_s": ("s", "query.construct_s"),
    "query.plan_s": ("s", "query.plan_s"),
    "query.execute_s": ("s", "query.execute_s"),
    "spark.jobs": ("count", "spark.jobs"),
    "spark.stages": ("count", "spark.stages"),
    "spark.tasks": ("count", "spark.tasks"),
    "spark.empty_task_ratio": ("ratio", "spark.empty_task_ratio"),
    "spark.task_cpu_s": ("s", "spark.task_cpu_s"),
    "spark.shuffle_write_mb": ("MB", "spark.shuffle_write_mb"),
    "spark.shuffle_read_mb": ("MB", "spark.shuffle_read_mb"),
    "spark.spill_mb": ("MB", "spark.spill_mb"),
    "spark.stage_skew": ("ratio", "spark.stage_skew"),
    "codegen.compile_s": ("s", "codegen.compile_s"),
    "codegen.classes": ("count", "codegen.classes"),
    "jvm.jit_s": ("s", "jvm.jit_s"),
    "jvm.gc_s": ("s", "jvm.gc_s"),
    "trace.wall_s": ("s", "wall_s"),
}


def trace_run(workload, classpath, work, mode, args):
    """One TraceRun JVM; returns its summary and its stdout."""
    argv = jvm_cmd(classpath, "graft.pipeline.perfbench.TraceRun") + [
        "--workload", workload, "--mode", mode] + args
    _, _, _, rc, stdout = run_process(argv, work, "trace_" + mode)
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
    if rc != 0 or not lines:
        raise BenchError("TraceRun --mode %s failed (exit %d), see %s" % (
            mode, rc, os.path.join(work, "trace_%s.log" % mode)))
    return json.loads(lines[-1][len("PERFBENCH "):]), stdout


def traced(workload, seed, classpath, work, keep, expected):
    """The program's own command chain through graft.Cli.run in one JVM
    (plain), then the span-wrapped composition in a second JVM (traced).
    The plain outputs are checked like the untraced ones; the traced
    outputs must have the same row counts and digests, for every seed."""
    facts = gen.GENERATORS[workload](seed, os.path.join(work, "inputs"))
    attempted = failed = 0
    plain_out, traced_out = os.path.join(work, "plain"), os.path.join(work, "traced")
    chain = commands(workload, facts, plain_out, full=True)
    cmd_file = os.path.join(work, "commands.tsv")
    with open(cmd_file, "w") as f:
        f.writelines("\t".join([name] + args) + "\n" for name, args in chain)
    plain, stdout = trace_run(workload, classpath, work, "plain", ["--commands", cmd_file])
    spans = os.path.join(keep, "spans.json")
    s, _ = trace_run(workload, classpath, work, "traced", [
        "--mzid", ",".join(facts["mzid"]), "--spectra", facts["spectra"],
        "--out", traced_out, "--spans", spans])
    record, record_traced = {}, {}
    for name, _ in chain:
        for out, want, counts, got_into in (
                (plain_out, expected_op(expected, name), parse_graft_counts(stdout), record),
                (traced_out, record.get(name), (int(s["nr_psms"]), int(s["nr_decoys"])),
                 record_traced)):
            attempted += 1
            got, errs = check_op(name, out, facts, want, counts)
            got_into[name] = got
            for e in errs:
                log("CHECK FAILED (%s) %s" % ("plain" if out == plain_out else "traced", e))
            failed += bool(errs)
    metrics, units = {}, {}
    for name, (unit, src) in PER_LAYER.items():
        metrics[name] = src(s) if callable(src) else s.get(src, 0.0)
        units[name] = unit
    # command walls of the program's own commands (plain), 0 where the
    # workload has no such command
    for name in ("index", "check", "mgf", "inference"):
        metrics["cmd.%s_s" % name] = plain.get("cmd.%s_s" % name, 0.0)
        units["cmd.%s_s" % name] = "s"
    metrics["trace.plain_wall_s"] = plain["wall_s"]
    units["trace.plain_wall_s"] = "s"
    metrics["trace.overhead_ratio"] = s["wall_s"] / plain["wall_s"]
    units["trace.overhead_ratio"] = "ratio"
    return metrics, units, attempted, failed, {
        "spans": spans, "summaries": {"plain": plain, "traced": s}, "outputs": record,
        "outputs_traced": record_traced}


# ------------------------------------------------------------------ main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output counts and digests as the expected "
                         "values of the default seed")
    args = ap.parse_args()
    if args.record and args.seed != DEFAULT_SEED:
        ap.error("--record needs the default seed %d" % DEFAULT_SEED)

    info = run_info(args.workload, args.seed, args.trace)
    try:
        classpath = build()
    except BenchError as e:
        log("ERROR " + str(e))
        return 2
    tag = "%s-seed%d-trace%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    work = os.path.join(BUILD, "work", tag)
    keep = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(keep)
    expected = None if args.record else load_expected(args.workload, args.seed)
    try:
        if args.trace:
            metrics, units, attempted, failed, detail = traced(
                args.workload, args.seed, classpath, work, keep, expected)
        else:
            metrics, units, attempted, failed, detail = untraced(
                args.workload, args.seed, args.seconds, classpath, work, expected)
    except BenchError as e:
        log("ERROR " + str(e))
        return 3
    finally:
        info["loadavg_end"] = loadavg()
    info.update(detail)
    if args.record and failed == 0:
        record_expected(args.workload, detail["outputs"])
    with open(os.path.join(keep, "run.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run": {k: info[k] for k in (
        "nproc", "commit", "source_sha256", "jvm", "spark", "loadavg_start", "loadavg_end")},
        "record": os.path.relpath(keep, ROOT)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
