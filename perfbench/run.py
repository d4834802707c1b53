#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per call, in one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--cpus <n>]

Run from the repository root. The first call builds the engine and the
benchmark with sbt (perfbench/build.sbt) and generates the query-mix tables;
both are cached under .bench_build/. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics. Exits nonzero when an output is wrong or the run fails.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the source tree free of build output
MIX = "curation_mix"
MIX_TABLES = ["documents", "embeddings"]
# the mix's value-gated entry (no oracle SQL) and its graft.ValueGate floor
RECALL_FLOOR = ("q139_ivfpq_search", 0.25)
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha1()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, cache):
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    sources = [os.path.join(root, p) for p in
               ("build.sbt", "project/build.properties", "src/main")] + [
        os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    cp_file = os.path.join(cache, f"classpath-{tree_hash(sources)}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "--sbt-dir", os.path.join(cache, "sbt"), "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (rc={rc}), see {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def tables(cache):
    """Generates the sf0.1 mix tables and the sf0.001 warm-up tables once."""
    sys.path.insert(0, HERE)
    import gen_tables
    base = os.path.join(cache, "data", tree_hash([os.path.join(HERE, "gen_tables.py")]))
    dirs = {}
    for sf in ("0.1", "0.001"):
        d = os.path.join(base, f"sf{sf}")
        if not os.path.exists(os.path.join(d, "_done")):
            shutil.rmtree(d, ignore_errors=True)
            gen_tables.main(d, sf)
            open(os.path.join(d, "_done"), "w").close()
        dirs[sf] = d
    return dirs


def run_jvm(classpath, args, work, extra):
    result = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(args.cpus), "--work", work, "--result", result] + extra)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    # graft.Verify, which dumps the mix results, sizes its session from this
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(args.cpus))
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log, errors="replace") as fh:
        sys.stderr.writelines(l for l in fh if l.startswith("[perfbench]"))
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"workload {args.workload} did not finish (rc={rc})", 4)
    return json.load(open(result))


def content_key(table_dir, *extra):
    """SHA-1 of a dumped result's values and types (columns sorted by name,
    Arrow IPC bytes) and of `extra`: equal for equal results, whatever the
    parquet encoding Spark chose."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    t = pq.read_table(table_dir)
    t = t.select(sorted(t.column_names)).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    h = hashlib.sha1(sink.getvalue().to_pybytes())
    for e in extra:
        h.update(e.encode())
    return h.hexdigest()


def oracle_check(res, data_dir, root, cache):
    """Runs scripts/compare_oracle.py over graft.Verify's dumps of the mix
    (DuckDB answers of each entry's oracle SQL, compared cell by cell) and
    checks the value-gated q139's recall@3. A result whose values equal
    one that passed before, under the same oracle SQL and tables, passes
    without running DuckDB again (q96's oracle takes about 30 s). Returns
    the names of the entries that fail or were not checked."""
    dump = res["dump_dir"]
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    data_key = tree_hash([data_dir])
    passed_dir = os.path.join(cache, "oracle_passed")
    os.makedirs(passed_dir, exist_ok=True)
    ok, pending = set(), {}
    for name in res["dumped"]:
        if name in oracle:
            stamp = open(os.path.join(dump, name, "_oracle_sha1")).read().strip()
            key = content_key(os.path.join(dump, name), stamp, data_key)
            if os.path.exists(os.path.join(passed_dir, key)):
                ok.add(name)
            else:
                pending[name] = key
    if pending:
        # compare only the dumps without a verdict: move them beside the catalog
        todo = dump + "_compare"
        os.makedirs(todo)
        shutil.copy(os.path.join(dump, "oracle_sql.json"), todo)
        for name in pending:
            os.rename(os.path.join(dump, name), os.path.join(todo, name))
        sys.path.insert(0, os.path.join(root, "scripts"))
        import compare_oracle
        compare_oracle.TABLES = MIX_TABLES  # the only tables the mix reads
        report = io.StringIO()
        with contextlib.redirect_stdout(report):
            compare_oracle.main(data_dir, todo, allow_skips=True)
        lines = report.getvalue().splitlines()
        sys.stderr.writelines(f"perfbench: {l}\n" for l in lines if l.startswith("FAIL"))
        for name in {l.split()[1] for l in lines if l.startswith("PASS ")} & set(pending):
            ok.add(name)
            open(os.path.join(passed_dir, pending[name]), "w").close()
    name, floor = RECALL_FLOOR
    if name in res["dumped"]:
        import pandas as pd
        r = recall3(pd.read_parquet(os.path.join(dump, name)), data_dir)
        print(f"perfbench: {name} recall@3 {r:.4f} (floor {floor})", file=sys.stderr)
        if r >= floor:
            ok.add(name)
    bad = set(res["errors"]) | set(res.get("traced_errors", []))
    return bad | (set(res["query_s"]) - ok)


def recall3(ann, data_dir):
    """recall@3 of an ANN answer (first column the query id, second the
    candidate id) over queries vec_id < 50, against the exact cosine top-3
    (graft.ValueGate's measure)."""
    import numpy as np
    import pyarrow.parquet as pq
    t = pq.read_table(f"{data_dir}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    emb = np.array(t["embedding"], dtype=np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    exact = {}
    for qi in np.where(ids < 50)[0]:
        cos = np.round(emb @ emb[qi], 6)
        cos[qi] = -np.inf
        order = np.lexsort((ids, -cos))[:3]
        exact[int(ids[qi])] = set(int(i) for i in ids[order])
    got = {}
    cols = list(ann.columns)
    qcol, ccol = cols[0], cols[1]
    for q, c in zip(ann[qcol].tolist(), ann[ccol].tolist()):
        got.setdefault(int(q), set()).add(int(c))
    hits = sum(len(got.get(q, set()) & ref) for q, ref in exact.items())
    return hits / (len(exact) * 3)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the engine sources (build.sbt, "
             "src/main/scala/graft) are missing")
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json is missing from the repository root")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    cache = os.path.join(root, ".bench_build")
    os.makedirs(cache, exist_ok=True)
    classpath = build(root, cache)
    extra = []
    if args.workload == MIX:
        dirs = tables(cache)
        extra = ["--data", dirs["0.1"], "--warm", dirs["0.001"]]
    work = os.path.join(cache, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, args, work, extra)
        attempted = int(res["attempted"])
        if args.workload == MIX:
            failed = len(oracle_check(res, dirs["0.1"], root, cache))
        else:
            failed = int(res["failed"])
        if args.trace:
            values = res["layers"]
            if args.workload == MIX:
                values["error_rate"] = failed / attempted
                print(json.dumps({"per_query": res["per_query"]}))
            spans = os.path.join(cache, "traces", os.path.basename(work) + ".spans.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), spans)
            print(f"spans: {os.path.relpath(spans, root)}")
        else:
            values = dict(res["metrics"], setup_s=res["setup_s"])
            print(json.dumps({"op_s": values.pop("op_s")}))
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer" if args.trace else "end_to_end"]}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": args.cpus,
                          "session_ready_s": res["session_ready_s"],
                          "warmup_s": res["warmup_s"], "check_s": res["check_s"],
                          "query_s": res.get("query_s")}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
