#!/usr/bin/env python3
"""graft benchmark: run one workload against graft's compiled classes.

Usage, from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 6 --trace 0

Workloads: queries, stream, pipeline (see perfbench/README.md).

The script compiles graft's sources (src/main/scala) and the benchmark's
own (perfbench/src) with the Scala compiler found in the Spark jar
directory that build.sbt names as `unmanagedBase` (override with
GRAFT_SPARK_JARS), into .bench_build/classes. A source change triggers a
rebuild. Each run gets a fresh scratch directory under .bench_build/runs
(java.io.tmpdir, Spark local dirs, checkpoints, sink output), which is
removed afterwards. A traced run keeps its spans in .bench_build/traces.

Stdout ends with one JSON object: {"correct", "attempted", "failed",
"metrics"}; the lines before it summarise each metric with its sample
count. `--expect` regenerates perfbench/expected.tsv instead.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("queries", "stream", "pipeline")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

_child = None


class BenchError(Exception):
    pass


def jar_dir():
    env = os.environ.get("GRAFT_SPARK_JARS")
    if env:
        return env
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise BenchError("build.sbt not found: run from a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        raise BenchError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def one_jar(jars, stem):
    found = sorted(glob.glob(os.path.join(jars, stem + "-[0-9]*.jar")))
    if not found:
        raise BenchError(f"no {stem} jar in {jars}")
    return found[-1]


def scalac(jars, sources, out, classpath):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    compiler = ":".join(one_jar(jars, s) for s in
                        ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError(f"compilation into {out} failed")


def build(jars):
    """Compile graft and the benchmark unless the sources are unchanged."""
    graft = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not graft:
        raise BenchError("no graft sources under src/main/scala")
    h = hashlib.sha256()
    for f in graft + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(out, "stamp")
    classes = (os.path.join(out, "graft"), os.path.join(out, "bench"))
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, False
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    spark_cp = os.path.join(jars, "*")
    scalac(jars, graft, classes[0], spark_cp)
    scalac(jars, bench, classes[1], classes[0] + ":" + spark_cp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, True


def heap():
    """Half of MemTotal in whole GB, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, workload, seed, seconds, trace, n_cores, mode, out,
            trace_out, deadline):
    """Run one benchmark JVM in a fresh scratch directory."""
    global _child
    scratch = os.path.join(BUILD, "runs", f"{workload}-{os.getpid()}-{mode}-{n_cores}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ,
               PERFBENCH_DATA=os.path.join(HERE, "data"),
               PERFBENCH_OUT=os.path.join(scratch, "pipeline"),
               SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
    cmd = ["java", f"-Xmx{heap()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", ":".join(classes[::-1]) + ":" + os.path.join(jars, "*"),
            "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(n_cores),
            "--data", os.path.join(HERE, "data"), "--scratch", scratch,
            "--out", out, "--trace-out", trace_out,
            "--expected", os.path.join(HERE, "expected.tsv"),
            "--conf", os.path.join(HERE, "curation_pipeline.conf"), "--mode", mode]
    try:
        _child = subprocess.Popen(cmd, cwd=scratch, env=env,
                                  stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = _child.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            _child.kill()
            _child.wait()
            raise BenchError(f"{workload} did not finish in time")
        finally:
            _child = None
        if code != 0 or not os.path.exists(out):
            raise BenchError(f"{workload} JVM exited with code {code}")
        if mode == "dump":
            return ""
        with open(out) as f:
            return f.read()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def measure(args, classes, jars, deadline):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    tag = f"{args.workload}-seed{args.seed}"
    out = os.path.join(BUILD, "results", f"{tag}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    trace_out = os.path.join(BUILD, "traces", f"{tag}.json") if args.trace else ""
    res = json.loads(run_jvm(classes, jars, args.workload, args.seed, args.seconds,
                             args.trace, cores(), "measure", out,
                             trace_out, deadline))
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and args.trace:
            # a layer this workload does not exercise did no work
            v = {"value": 0, "unit": m["unit"], "samples": 0}
        if v is None or not isinstance(v["value"], (int, float)):
            raise BenchError(f"metric {m['name']} was not measured")
        if not args.trace and not v["value"] > 0:
            raise BenchError(f"metric {m['name']} is {v['value']}")
        metrics[m["name"]] = v
    unknown = sorted(set(got) - set(metrics))
    if unknown:
        raise BenchError(f"metrics missing from BENCHMARK.json: {unknown}")

    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cores()}")
    for name, v in metrics.items():
        print(f"#   {name:44s} {v['value']:>16.6g} {v['unit']:8s} n={v['samples']}")
    print(f"#   {'op_p80_s (untraced passes)':44s} {res['op_p80_s']:>16.6g} s")
    print(f"#   {'peak_rss_mb':44s} {res['peak_rss_mb']:>16.6g} MB")
    print(f"#   failed_frac {res['failed']}/{res['attempted']}"
          + (f": {', '.join(res['failed_ops'])}" if res["failed_ops"] else ""))
    last = os.path.join(BUILD, "results", f"{args.workload}-untraced.json")
    if not args.trace:
        shutil.copyfile(out, last)
    elif os.path.exists(last):
        # setup and memory are not split by pass, so their tracing
        # overhead is taken against the last untraced run
        base = json.load(open(last))
        print(f"#   overhead.setup_s vs the last untraced run: "
              f"{metrics['trace.setup_s']['value'] - base['metrics']['setup_s']['value']:.6g}")
        print(f"#   overhead.peak_rss_mb vs the last untraced run: "
              f"{res['peak_rss_mb'] - base['peak_rss_mb']:.6g}")
    if trace_out:
        print(f"#   spans: {os.path.relpath(trace_out, ROOT)}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()},
    }))


def expect(classes, jars):
    """Regenerate expected.tsv: digests at two partition counts, twice each;
    an operation whose digest varies keeps its row count check only."""
    seen = {}
    for workload in ("queries", "pipeline"):
        for n_cores in (4, 2, 4, 2):
            out = os.path.join(BUILD, "results", f"expect-{workload}-{n_cores}.tsv")
            os.makedirs(os.path.dirname(out), exist_ok=True)
            text = run_jvm(classes, jars, workload, 0, 0, False, n_cores, "expect",
                           out, "", time.time() + 900)
            for line in text.strip().splitlines():
                name, rows, digest = line.split("\t")
                seen.setdefault(name, set()).add((int(rows), digest))
    lines = ["# name\trows\tdigest ('*': row count only, digest not stable)"]
    for name, outs in seen.items():
        rows = {r for r, _ in outs}
        if len(rows) != 1:
            raise BenchError(f"{name}: row count varies between runs: {sorted(rows)}")
        digest = next(iter(outs))[1] if len(outs) == 1 else "*"
        lines.append(f"{name}\t{rows.pop()}\t{digest}")
        if digest == "*":
            print(f"{name}: digest varies, row count only", file=sys.stderr)
    with open(os.path.join(HERE, "expected.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def confirm_oracle(classes, jars):
    """Dump the queries' outputs and compare them with their DuckDB oracles
    using tools/check_oracle.py."""
    out = os.path.join(BUILD, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    run_jvm(classes, jars, "queries", 0, 0, False, cores(), "dump", out, "",
            time.time() + 900)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        os.path.join(HERE, "data"), out])
    if r.returncode != 0:
        raise BenchError("oracle check failed")


def main():
    t0 = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expect", action="store_true", help="regenerate expected.tsv")
    p.add_argument("--confirm-oracle", action="store_true",
                   help="compare the query outputs with their DuckDB oracles")
    args = p.parse_args()
    if not (args.expect or args.confirm_oracle) and not args.workload:
        p.error("--workload is required")

    def stop(signum, _frame):
        if _child is not None:
            _child.kill()
            _child.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    try:
        jars = jar_dir()
        classes, built = build(jars)
        if args.expect:
            expect(classes, jars)
        elif args.confirm_oracle:
            confirm_oracle(classes, jars)
        else:
            # a run that had to build gets the full limit for the JVM
            start = time.time() if built else t0
            measure(args, classes, jars, start + RUN_LIMIT_S)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
