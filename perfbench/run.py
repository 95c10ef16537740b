#!/usr/bin/env python3
"""graft benchmark: two seeded, closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload suite_sf01 --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds graft and the
harness from source with sbt (`perfbench/build.sbt`); later runs reuse
the build while the sources are unchanged. Each run starts one JVM, sets
up (inputs, session, warm-up), measures timed rounds for `--seconds` (at
least one round; three with `--trace 1`), checks the outputs outside the
timed window, prints a report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With `--trace 1` the
metrics are the per-layer split and a span file is written under
`.bench_build/spans/`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected")
DEFAULT_SEED = 1
# a run must end within 180 s of its start, build excluded
DEADLINE_S = 170

# A fixed, family-stratified sample of the declared queries: per family
# (q 27, ir 30, px 86 queries; 1, 1 and 3 picked) the queries at the
# midpoints of equal-count bands of the family's warm per-query wall on
# 4 cores. The whole suite (~115 s per warm pass on 4 cores) does not fit
# a run; see README.md.
SUITE_QUERIES = [
    "q13_sessionize", "ir14_score_lmdir",
    "px41_zipf_slope", "px30_repetition", "px63_bpe_encode",
]

CURATE_STAGES = ["input_count", "gopher_count", "exact_dedup", "near_dedup",
                 "quality_write", "readback_count", "report"]
CURATE_FUNNEL = ["input", "gopher_kept", "exact_dedup", "near_dedup",
                 "quality_kept"]
PATHS = ["inverted", "docvec", "scan"]

WORKLOADS = ["suite_sf01", "curate_retrieve_replicated"]
# the replicated corpus: replicas of the 5,000 base docs, base docs of the
# warm-up corpus, topics per batch
REPLICAS, WARM_DOCS, TOPICS = 2, 500, 20

END_TO_END = {"setup_s": "s", "round_s": "s", "peak_mem_mb": "MB"}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build():
    """Compile graft and the harness; return the runtime classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(graft_src):
        fail(f"graft sources not found under {graft_src}")
    if not shutil.which("sbt"):
        fail("sbt not found")
    files = sorted(glob.glob(os.path.join(graft_src, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("hash") == h.hexdigest():
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=850)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "classes" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        json.dump({"hash": h.hexdigest(), "classpath": lines[-1]}, fh)
    return lines[-1]


# ---------------------------------------------------------------- run

def java():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def launch(cp, tmp, args, timeout, log):
    """Run the JVM side once; return its raw record."""
    out = os.path.join(tmp, "record.json")
    cmd = ([java(), "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            "-XX:CICompilerCount=4", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
           + ["-cp", cp, "perfbench.Main", "--out", out, "--data", DATA] + args)
    # graft reads engine settings from SPARK_GRAFT_* / GRAFT_* variables;
    # every run measures its defaults
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=tmp, env=env)
        try:
            code = p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM run exceeded {timeout:.0f} s, see {log}")
        except BaseException:
            p.kill()
            p.wait()
            raise
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM run failed ({code}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- analysis

def median(values):
    return stats.quartiles(values)[1]


class Record:
    """The raw JVM record with the span tree indexed."""

    def __init__(self, raw):
        self.raw = raw
        self.spans = raw["spans"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.rounds = [s for s in self.spans if s["kind"] == "round"]
        self.jobs = raw.get("jobs", [])
        self.stages = raw.get("stages", [])

    def ops(self, rnd):
        return self.children.get(rnd["id"], [])

    def round_s(self, rnd):
        return sum(o["wall_s"] for o in self.ops(rnd))

    def warmups(self):
        return [s for s in self.spans if s["kind"] == "warmup" and s["parent"] == 0]

    def jobs_in(self, s):
        return [j for j in self.jobs if s["start_us"] <= j["start_us"] <= s["end_us"]]

    def stages_of(self, jobs):
        ids = {j["job"] for j in jobs}
        return [st for st in self.stages if st["job"] in ids]


def end_to_end(rec, gen_s):
    rounds = [rec.round_s(r) for r in rec.rounds]
    peaks = [r["stage_totals"].get("peak_exec_mb", 0) for r in rec.rounds]
    setup = rec.raw["session_start_s"] + sum(w["wall_s"] for w in rec.warmups()) + gen_s
    return {"setup_s": setup, "round_s": median(rounds), "peak_mem_mb": max(peaks)}


def named_metrics(workload, rec, setup_s, attempted, failed):
    """The workload's named end-to-end metrics: name -> (unit, samples)."""
    m = {"setup_s": ("s", [setup_s])}
    rounds = rec.rounds
    if workload == "suite_sf01":
        m["suite_s"] = ("s", [rec.round_s(r) for r in rounds])
        walls = [o["wall_s"] for r in rounds for o in rec.ops(r)]
        m["query_p50_s"] = ("s", walls)
        m["query_p90_s"] = ("s", walls)
    else:
        m["curate_s"] = ("s", [o["wall_s"] for r in rounds for o in rec.ops(r)
                               if o["kind"] == "curate"])
        m["index_build_s"] = ("s", [sum(o["wall_s"] for o in rec.ops(r)
                                        if o["kind"].endswith("_write")) for r in rounds])
        for p in PATHS:
            m[f"retrieve_{p}_s"] = ("s", [o["wall_s"] for r in rounds for o in rec.ops(r)
                                         if o["kind"] == "batch" and o.get("path") == p])
    m["peak_mem_mb"] = ("MB", [r["stage_totals"].get("peak_exec_mb", 0) for r in rounds])
    m["failed_frac"] = ("ratio", [failed / attempted if attempted else 1.0])
    return m


def layer_metrics(rec, gen_s, cores):
    """Per-layer split: each metric per traced round, median over them."""
    traced = [r for r in rec.rounds if r["traced"]]
    untraced = [r for r in rec.rounds if not r["traced"]]
    per_round = []
    for r in traced:
        ops = rec.ops(r)
        jobs = rec.jobs_in(r)
        stages = rec.stages_of(jobs)
        tot = r["stage_totals"]
        wall = sum(o["wall_s"] for o in ops)
        run_s = sum(st["run_s"] for st in stages)
        row = {
            "catalyst.analysis_s": 0.0, "catalyst.optimization_s": 0.0,
            "catalyst.planning_s": 0.0,
            "codegen.compile_n": r["compiles"],
            "scheduler.jobs_n": len(jobs),
            "scheduler.stages_n": tot.get("stages", 0),
            "scheduler.tasks_n": sum(st["tasks"] for st in stages),
            "scheduler.tasks_per_job": (sum(st["tasks"] for st in stages) / len(jobs)
                                        if jobs else 0.0),
            "scheduler.driver_gap_s": sum(
                stats.driver_gap(o["start_us"], o["end_us"],
                                 [(j["start_us"], j["end_us"]) for j in rec.jobs_in(o)])
                for o in ops) / 1e6,
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": sum(st["cpu_s"] for st in stages),
            "exec.busy_share": stats.busy_share(run_s, wall, cores),
            "jvm.gc_s": r["gc_s"],
            "jvm.cpu_s": sum(o["cpu_s"] for o in ops),
            "shuffle.write_mb": tot.get("shuffle_write_mb", 0),
            "shuffle.read_mb": tot.get("shuffle_read_mb", 0),
            "storage.spill_mem_mb": tot.get("spill_mem_mb", 0),
            "storage.spill_disk_mb": tot.get("spill_disk_mb", 0),
            "io.input_mb": tot.get("input_mb", 0),
            "io.output_mb": sum(st["output_bytes"] for st in stages) / 2 ** 20,
        }
        for c in rec.raw.get("catalyst", []):
            if r["start_us"] <= c["t_us"] <= r["end_us"]:
                for k in ("analysis_s", "optimization_s", "planning_s"):
                    row["catalyst." + k] += c[k]
        persist = [p["bytes_total"] for p in rec.raw.get("persist", [])
                   if r["start_us"] <= p["t_us"] <= r["end_us"]]
        before = [p["bytes_total"] for p in rec.raw.get("persist", [])
                  if p["t_us"] < r["start_us"]]
        row["storage.persisted_mb"] = ((max(persist) - (max(before) if before else 0))
                                       / 2 ** 20 if persist else 0.0)
        # queries layer (suite): plan construction and per-family walls
        decl = [s for o in ops for s in rec.children.get(o["id"], [])
                if s["kind"] == "decl_run"]
        row["queries.decl_run_s"] = sum(s["wall_s"] for s in decl)
        row["queries.build_jobs_n"] = sum(len(rec.jobs_in(s)) for s in decl)
        for fam in ("q", "ir", "px"):
            row[f"queries.{fam}_s"] = sum(o["wall_s"] for o in ops
                                          if o["kind"] == "query" and o.get("family") == fam)
        # jobs layer (curate): per-stage job walls and counts
        for st in CURATE_STAGES:
            js = [j for j in jobs if j["desc"] == f"curate:{st}"]
            row[f"jobs.curate.{st}_s"] = stats.union_length(
                [(j["start_us"], j["end_us"]) for j in js]) / 1e6
            row[f"jobs.curate.{st}_jobs_n"] = len(js)
        # pipeline layer (curate): survivors per input at each stage
        rep = next((o.get("report") for o in ops if o["kind"] == "curate"), None) or {}
        for name, num, den in (("gopher", "gopher_kept", "input"),
                               ("exact", "exact_dedup", "gopher_kept"),
                               ("near", "near_dedup", "exact_dedup")):
            row[f"pipeline.{name}_keep_ratio"] = (rep[num] / rep[den]
                                                  if rep.get(den) else 0.0)
        # ir layer (retrieve): write walls, rows read per result row
        for kind in ("inverted_write", "docvec_write"):
            row[f"ir.{kind}_s"] = sum(o["wall_s"] for o in ops if o["kind"] == kind)
        for p in PATHS:
            bs = [o for o in ops if o["kind"] == "batch" and o.get("path") == p]
            read = sum(st["input_records"] + st["shuffle_records"]
                       for b in bs for st in rec.stages_of(rec.jobs_in(b)))
            res = sum(b.get("results", 0) for b in bs)
            row[f"ir.rows_read_per_result.{p}"] = read / res if res else 0.0
        per_round.append(row)

    out = {k: median([row[k] for row in per_round]) for k in per_round[0]} if per_round else {}
    out["session.start_s"] = rec.raw["session_start_s"]
    out["session.warmup_s"] = sum(w["wall_s"] for w in rec.warmups())
    out["gen.corpus_s"] = gen_s
    out["jvm.peak_rss_mb"] = rec.raw["env"]["peak_rss_mb"]
    out["trace.overhead_s"] = (median([rec.round_s(r) for r in traced])
                               - median([rec.round_s(r) for r in untraced])
                               if traced and untraced else 0.0)
    return out


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_n") or "per_" in name:
        return "count"
    if name.endswith("_mb"):
        return "MB"
    return "ratio"


# ---------------------------------------------------------------- checks

def load_expected(name):
    path = os.path.join(EXPECTED, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def check(workload, rec):
    """(attempted, failed, notes): every operation, warm-up included,
    counts once; an operation fails if it threw or its output check
    failed."""
    notes = []
    checks = rec.raw.get("checks", {})
    if workload == "suite_sf01":
        exp = load_expected("suite_sf01.json") or {}
        outputs = checks.get("outputs", {})
        attempted = failed = 0
        for q in SUITE_QUERIES:
            attempted += 1
            got, want = outputs.get(q, {}), exp.get(q)
            if want is None or got.get("rows") != want["rows"] or got.get("hash") != want["hash"]:
                failed += 1
                notes.append(f"{q}: output {got} != expected {want}")
        warm_errors = checks.get("warm_pass_errors", [])
        attempted += len(SUITE_QUERIES)
        failed += len(warm_errors)
        notes += [f"warm pass: {e}" for e in warm_errors]
        for r in rec.rounds:
            for o in rec.ops(r):
                attempted += 1
                want = exp.get(o["name"], {}).get("rows")
                if o["failed"] or o.get("error") or o.get("rows") != want:
                    failed += 1
                    notes.append(f"{o['name']}: rows {o.get('rows')} != {want} {o.get('error', '')}")
        return attempted, failed, notes
    # curation: stage counts never increase and equal the stored counts
    # (the corpus text is the same for every seed)
    exp = load_expected("curate.json") or {}
    calls = [s for s in rec.spans if s["kind"] == "curate"]
    failed = 0
    for c in calls:
        rep = c.get("report")
        ok = (bool(rep) and not c.get("error") and rep == exp.get("report")
              and all(rep[a] >= rep[b] for a, b in zip(CURATE_FUNNEL, CURATE_FUNNEL[1:])))
        if not ok:
            failed += 1
            notes.append(f"curate report {rep} {c.get('error', '')}")
    # warm-up: the curation, index and retrieval chains must not throw
    warm_errors = checks.get("warmup_errors", [])
    failed += len(warm_errors)
    notes += [f"warm-up: {e}" for e in warm_errors]
    # index and retrieval: no call throws, the three paths agree, and every
    # round gives the same rows
    ops = [s for s in rec.spans if s["kind"] in ("batch", "inverted_write", "docvec_write")]
    failed += sum(1 for o in ops if o["failed"] or o.get("error"))
    results = checks.get("results", [])
    for res in results:
        if not res["agree"] or res["hash"] != results[0]["hash"]:
            failed += len(PATHS)
            notes.append(f"retrieval paths disagree: {res}")
    # the warm-up counts as one curation and five index and retrieval calls
    attempted = len(calls) + len(ops) + 6
    return attempted, min(failed, attempted), notes


# ---------------------------------------------------------------- spans

def span_file(workload, rec, run_id):
    """Span tree run -> round -> op -> call -> job -> stage, with self
    times; written to .bench_build/spans/<run_id>.json."""
    bench = rec.spans
    nodes = []
    lo = min(s["start_us"] for s in bench)
    hi = max(s["end_us"] for s in bench)
    nodes.append({"id": "run", "parent": None, "kind": "run", "name": workload,
                  "start_us": lo, "end_us": hi})
    for s in bench:
        nodes.append({"id": str(s["id"]), "parent": "run" if s["parent"] == 0 else str(s["parent"]),
                      "kind": s["kind"], "name": s["name"],
                      "start_us": s["start_us"], "end_us": s["end_us"]})
    for j in rec.jobs:
        holders = [s for s in bench if s["start_us"] <= j["start_us"] <= s["end_us"]]
        parent = min(holders, key=lambda s: s["end_us"] - s["start_us"]) if holders else None
        nodes.append({"id": f"job{j['job']}", "parent": str(parent["id"]) if parent else "run",
                      "kind": "job", "name": j["desc"],
                      "start_us": j["start_us"], "end_us": j["end_us"]})
    for st in rec.stages:
        nodes.append({"id": f"stage{st['stage']}.{st['attempt']}",
                      "parent": f"job{st['job']}" if st["job"] >= 0 else "run",
                      "kind": "stage", "name": str(st["stage"]),
                      "start_us": st["start_us"], "end_us": st["end_us"]})
    kids = {}
    for n in nodes:
        kids.setdefault(n["parent"], []).append((n["start_us"], n["end_us"]))
    for n in nodes:
        n["run_id"] = run_id
        n["self_us"] = stats.self_time(n["start_us"], n["end_us"], kids.get(n["id"], []))
    os.makedirs(os.path.join(BUILD, "spans"), exist_ok=True)
    path = os.path.join(BUILD, "spans", f"{run_id}.json")
    with open(path, "w") as fh:
        json.dump({"run_id": run_id, "spans": nodes}, fh)
    self_by_kind = {}
    for n in nodes:
        self_by_kind[n["kind"]] = self_by_kind.get(n["kind"], 0) + n["self_us"] / 1e6
    return path, self_by_kind


# ---------------------------------------------------------------- main

def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def record_expected(verify_dir):
    """Store the digests of the suite outputs that `graft.Verify` dumped
    under `verify_dir` (after `tools/check.py` passed on that dump)."""
    cp = build()
    tmp = os.path.join(BUILD, "runs", "record-" + uuid.uuid4().hex[:8])
    os.makedirs(tmp)
    try:
        got = launch(cp, tmp,
                     ["--digest", os.path.abspath(verify_dir)], DEADLINE_S,
                     os.path.join(tmp, "record.log"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    missing = [q for q in SUITE_QUERIES if q not in got]
    if missing:
        fail(f"no Verify output for {missing}")
    os.makedirs(EXPECTED, exist_ok=True)
    with open(os.path.join(EXPECTED, "suite_sf01.json"), "w") as fh:
        json.dump({q: got[q] for q in SUITE_QUERIES}, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--record-expected", metavar="VERIFY_DIR",
                    help="store the suite's expected outputs from a graft.Verify dump")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.record_expected:
        record_expected(args.record_expected)
        return
    if not args.workload:
        ap.error("--workload is required")

    cp = build()
    t_start = time.monotonic()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(BUILD, "runs", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        gen_s, info = 0.0, {}
        if args.workload != "suite_sf01":
            t0 = time.perf_counter()
            info = gen.generate(os.path.join(DATA, "documents.parquet"),
                                os.path.join(work, "inputs"), args.seed, REPLICAS,
                                topics=TOPICS)
            warm = gen.generate(os.path.join(DATA, "documents.parquet"),
                                os.path.join(work, "warm"), args.seed, 1,
                                topics=TOPICS, base_docs=WARM_DOCS)
            gen_s = time.perf_counter() - t0
            extra = ["--corpus", info["corpus"], "--warm", warm["corpus"],
                     "--topics", info["topics"]]
        else:
            extra = ["--queries", ",".join(SUITE_QUERIES)]
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    # a traced round between two untraced ones
                    "--min-rounds", "3" if args.trace else "1",
                    "--work", work] + extra
        log = os.path.join(BUILD, "logs", f"{run_id}.log")
        os.makedirs(os.path.dirname(log), exist_ok=True)
        raw = launch(cp, tmp, jvm_args,
                     DEADLINE_S - (time.monotonic() - t_start), log)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec = Record(raw)
    env = raw["env"]
    attempted, failed, notes = check(args.workload, rec)
    e2e = end_to_end(rec, gen_s)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} run {run_id}")
    print(f"env nproc={env['nproc']} cores={env['cores']} xmx_mb={env['xmx_mb']} "
          f"spark={env['spark_version']} java={env['java_version']} "
          f"window_s={env['window_s']:.1f} steal_s={env['steal_s']:.2f} "
          f"sys_s={env['sys_s']:.2f} user_s={env['user_s']:.2f}")
    if info:
        props = {k: v for k, v in info.items() if k not in ("corpus", "topics", "topic_selectivity")}
        sel = sorted(info["topic_selectivity"])
        print(f"inputs {json.dumps(props)} topic_selectivity_min={sel[0]:.5f} "
              f"median={median(sel):.5f} max={sel[-1]:.5f}")
    if args.workload == "curate_retrieve_replicated":
        rep = next((s.get("report") for s in rec.spans if s["kind"] == "curate"), None) or {}
        shares = {f"{b}_dup_share": 1 - rep[b] / rep[a]
                  for a, b in zip(CURATE_FUNNEL, CURATE_FUNNEL[1:]) if rep.get(a)}
        print(f"curate funnel {json.dumps(rep)} {json.dumps({k: round(v, 4) for k, v in shares.items()})}")
    print("warm-up (s): " + " ".join(f"{w['name']}={w['wall_s']:.2f}" for w in rec.warmups()))
    for r in rec.rounds:
        print(f"round {r['name']} traced={r['traced']} (s): "
              + " ".join(f"{o.get('path', o['name'])}={o['wall_s']:.3f}" for o in rec.ops(r)))
    print(f"{'metric':<24}{'unit':>7}{'median':>12}{'p25':>12}{'p75':>12}{'n':>6}")
    named = named_metrics(args.workload, rec, e2e["setup_s"], attempted, failed)
    for name, (unit, vals) in named.items():
        if not vals:
            continue
        if name == "query_p90_s":
            p90 = stats.percentile(vals, 0.9)
            rule = ("" if stats.tail_ok(vals, 0.9) else
                    f"  (tail rule not met: {stats.tail_count(vals, 0.9)} < 10 samples above)")
            print(f"{name:<24}{unit:>7}{p90:>12.4f}{'':>12}{'':>12}{len(vals):>6}{rule}")
            continue
        s = stats.summary(vals)
        print(f"{name:<24}{unit:>7}{s['median']:>12.4f}{s['p25']:>12.4f}{s['p75']:>12.4f}{s['n']:>6}")
    for n in notes[:20]:
        print(f"check failed: {n}")

    if args.trace:
        layers = layer_metrics(rec, gen_s, env["cores"])
        path, self_by_kind = span_file(args.workload, rec, run_id)
        print(f"spans {path}")
        print("self time by span kind (s): "
              + " ".join(f"{k}={v:.3f}" for k, v in sorted(self_by_kind.items())))
        for k in sorted(layers):
            print(f"layer {k:<40}{layer_unit(k):>7}{fmt(layers[k]):>14}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
