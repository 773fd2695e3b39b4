#!/usr/bin/env python3
"""graftbench: one run of one workload of the graft library.

    python3 graftbench/run.py --workload research_daily --seed 1 \
        --seconds 20 --trace 0

Builds the library and the benchmark program if they are out of date
(build.py), generates the seeded inputs (gen.py), runs the workload in a
fresh JVM with private temp, spill and warehouse directories, checks its
outputs (iteration digests, DuckDB oracles, injected ground truth) and
prints one JSON line: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Exits non-zero, without a result line, when a
check fails. The full record of the run (host facts, generator
parameters, every sample) is written to
.bench_build/graftbench/<workload>-seed<seed>-trace<t>.json.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

START = time.monotonic()
WORKLOADS = ("research_daily", "corpus_curation")
HEAP = "3g"
GEN_REPS = 3
DEADLINE_S = 170
# JDK 17 module opens Spark needs outside spark-submit
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class CheckFailed(Exception):
    pass


def host_facts():
    def read(p):
        try:
            with open(p) as f:
                return f.read()
        except OSError:
            return ""
    cpu = read("/proc/stat").split("\n", 1)[0].split()[1:]
    ticks = [int(x) for x in cpu] if cpu else []
    return {"loadavg": read("/proc/loadavg").split()[:3],
            "cpu_user_ticks": ticks[0] if ticks else None,
            "cpu_steal_ticks": ticks[7] if len(ticks) > 7 else None,
            "nproc": os.cpu_count()}


def setup_inputs(run_dir, workload, seed):
    """Generate the inputs GEN_REPS times into fresh directories; every
    copy must have the same digest. Returns (dir, median seconds, params,
    truth, digest)."""
    times, digests = [], []
    for i in range(GEN_REPS):
        d = os.path.join(run_dir, "inputs%d" % i)
        t0 = time.perf_counter()
        params, truth = gen.generate(d, workload, seed)
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(d))
    if len(set(digests)) != 1:
        raise CheckFailed("generator is not deterministic: %s" % digests)
    for i in range(1, GEN_REPS):
        shutil.rmtree(os.path.join(run_dir, "inputs%d" % i))
    return (os.path.join(run_dir, "inputs0"), stats.median(times), params,
            truth, digests[0])


def run_jvm(workload, inputs, run_dir, seconds, trace, seed):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in OPENS]
           + ["-cp", build.classpath(), "graftbench.Main", workload, inputs,
              run_dir, str(seconds), str(trace), str(seed)])
    left = DEADLINE_S - (time.monotonic() - START)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(left, 1))
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise CheckFailed("JVM exited %d:\n%s" % (p.returncode, tail))
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def canon(v):
    """Bit-exact float comparison (-0.0 != 0.0, NaN == NaN)."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, list):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    return v


def read_dump(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return con.execute("SELECT * FROM read_parquet(%r)" % files).fetch_arrow_table()


def check_oracles(run_dir, inputs):
    """Replay every oracle SQL in DuckDB on the generated inputs and
    compare with the dumped first-iteration output, row by row."""
    import duckdb
    with open(os.path.join(run_dir, "oracle", "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(inputs, t + ".parquet")))
    for name, sql in sorted(oracles.items()):
        got = read_dump(con, os.path.join(run_dir, "oracle", name))
        want = con.execute(sql).fetch_arrow_table()
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            raise CheckFailed("%s: columns %s vs oracle %s"
                              % (name, cols, sorted(want.column_names)))
        g = got.select(cols).to_pylist()
        w = want.select(cols).to_pylist()
        if len(g) != len(w):
            raise CheckFailed("%s: %d rows, its DuckDB oracle %d"
                              % (name, len(g), len(w)))
        bad = [(a, b) for a, b in zip(g, w) if canon(a) != canon(b)]
        if bad:
            a, b = bad[0]
            keys = [k for k in cols if canon(a[k]) != canon(b[k])]
            raise CheckFailed("%s: %d of %d rows differ from its DuckDB oracle;"
                              " first: %s" % (name, len(bad), len(g),
                                              {k: (a[k], b[k]) for k in keys}))
    return sorted(oracles)


def components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        parent[find(a)] = find(b)
    return find


def check_corpus(run_dir, truth):
    """MinHash dedup must put every injected cluster in one component;
    fuzzy decontamination must flag every injected contaminated copy."""
    import duckdb
    con = duckdb.connect()
    out = os.path.join(run_dir, "oracle")
    pairs = read_dump(con, os.path.join(out, "dedup_minhash")).to_pylist()
    find = components((r["doc_a"], r["doc_b"]) for r in pairs)
    split = [c for c in truth["dup_clusters"]
             if len({find(m) for m in c}) != 1]
    if split:
        raise CheckFailed("dedup missed injected clusters: %s" % split[:5])
    flagged = {(r["doc_id"], r["benchmark_id"]) for r in
               read_dump(con, os.path.join(out, "decontaminate_fuzzy")).to_pylist()}
    missed = [p for p in truth["contaminated"] if tuple(p) not in flagged]
    if missed:
        raise CheckFailed("decontamination missed injected copies: %s" % missed[:5])
    return {"dedup.dup_pairs": len(pairs),
            "recovered_clusters": len(truth["dup_clusters"]),
            "recovered_contaminated": len(truth["contaminated"])}


def end_to_end(res, setup_s):
    return {"setup_s": (setup_s, "s"),
            "first_s": (res["first_s"], "s"),
            "warm_s": (stats.median(res["warm_samples"]), "s"),
            "retained_mb": (res["retained_mb"], "MB")}


def per_layer(res, extra):
    """Per-layer metrics of the traced run: layer roll-up of the median
    traced warm iteration, the process-wide counters, and the tracing
    overhead (traced minus untraced warm medians)."""
    tr = res["trace"]
    samples = list(enumerate(res["warm_samples"], start=1))
    traced = [(i, s) for (i, s), t in zip(samples, res["warm_traced"]) if t]
    plain = [s for (i, s), t in zip(samples, res["warm_traced"]) if not t]
    # the traced iteration whose duration is the (lower) median
    it, warm = sorted(traced, key=lambda x: x[1])[(len(traced) - 1) // 2]
    spans = [s for s in tr["spans"] if s["iter"] == it]
    lo = min(s["start"] for s in spans)
    hi = max(s["end"] for s in spans)
    jobs = [j for j in tr["jobs"] if lo <= j["start"] <= hi]
    m = stats.layer_rollup(spans, jobs)
    top = [s for s in spans if s["parent"] == 0]
    m["outside.wall_s"] = warm - sum(s["end"] - s["start"] for s in top)
    m["trace.warm_s"] = warm
    m["trace.overhead_s"] = warm - stats.median(plain)
    files, mb = res["store_writes"].get(str(it), (0, 0.0))
    m["sources.files_written"], m["sources.written_mb"] = files, mb
    trig = [d for i, d in tr["triggers"] if i == it]
    m["streaming.triggers"], m["streaming.trigger_s"] = len(trig), sum(trig)
    for k, _ in stats.EXTRA:
        m.setdefault(k, res.get(k, extra.get(k, 0)))
    units = dict(stats.per_layer_names())
    return {k: (m[k], units[k]) for k, _ in stats.per_layer_names()}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    build.ensure()
    out_dir = build.OUT
    run_dir = os.path.join(out_dir, "run-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        before = host_facts()
        phases = {"build_s": time.monotonic() - START}
        inputs, gen_s, params, truth, digest = setup_inputs(run_dir, a.workload, a.seed)
        phases["gen_s"] = time.monotonic() - START - phases["build_s"]
        t0 = time.monotonic()
        res = run_jvm(a.workload, inputs, run_dir, a.seconds, a.trace, a.seed)
        phases["jvm_s"] = time.monotonic() - t0
        after = host_facts()
        if res["failed"]:
            raise CheckFailed("%d iterations produced outputs that differ "
                              "from the first" % res["failed"])
        empty = [k for k, d in res["digests"].items() if d.startswith("0:")]
        if empty:
            raise CheckFailed("empty outputs: %s" % empty)
        checked = check_oracles(run_dir, inputs)
        extra = {}
        if a.workload == "research_daily" and res["strategies_trading"] != 11:
            raise CheckFailed("only %d of 11 strategies trade"
                              % res["strategies_trading"])
        if a.workload == "corpus_curation":
            extra = check_corpus(run_dir, truth)
        metrics = (per_layer(res, extra) if a.trace
                   else end_to_end(res, gen_s + res["session_s"]))
        phases["checks_s"] = time.monotonic() - t0 - phases["jvm_s"]
        record = {"workload": a.workload, "phases": phases, "seed": a.seed, "trace": a.trace,
                  "generator": params, "input_digest": digest,
                  "input_mb": params["input_bytes"] / 1048576.0,
                  "host_before": before, "host_after": after,
                  "gen_s": gen_s, "oracle_checked": checked, "checks": extra,
                  "result": {k: v for k, v in res.items() if k != "trace"},
                  "metrics": {k: v[0] for k, v in metrics.items()}}
        with open(os.path.join(out_dir, "%s-seed%d-trace%d.json"
                               % (a.workload, a.seed, a.trace)), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(json.dumps({
            "correct": True, "attempted": res["attempted"], "failed": 0,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        print("graftbench: %.1f s" % (time.monotonic() - START), file=sys.stderr)


def _terminate(signum, frame):
    # subprocess.run kills and reaps the JVM on the way out
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main(sys.argv[1:])
    except CheckFailed as e:
        print("graftbench: check failed: %s" % e, file=sys.stderr)
        sys.exit(1)
    except (FileNotFoundError, subprocess.CalledProcessError,
            subprocess.TimeoutExpired) as e:
        print("graftbench: %s" % e, file=sys.stderr)
        sys.exit(2)
