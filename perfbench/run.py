#!/usr/bin/env python3
"""Benchmark of the message-to-product pipeline and the query pack.

    python3 perfbench/run.py --workload granule_chain --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness from source (``perfbench/build.sbt``); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed, drives one workload through the program's public entry points in
one JVM, checks every op's output against a DuckDB reference, and prints
labelled detail lines followed by one result line (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ("granule_chain", "query_pack")
XMX = "3g"
SF = 0.1
PLATFORMS = {"noaa18": "NOAA-18", "noaa19": "NOAA-19", "metopb": "Metop-B"}
OFF_LIST = ["fy3d", "npp", "aqua"]

# granule_chain: two products per granule, four resample targets. Op
# times fall for the first minute of a JVM (11 s, then 4 s, 3 s, ... at
# local[4]), so every run feeds the same messages: a warm-up of GC_WARMUP
# messages, then a timed phase sized from --seconds at GC_NOMINAL_S a
# message, so that each run times the same ops at the same distance from
# JVM start.
GC_SIZE, GC_FACTOR, GC_MIN_VALID, GC_WARMUP, GC_NOMINAL_S = 128, 2, 50.0, 3, 3.0
GC_PRODUCTS = ["ch1", "ch2"]
GC_TARGETS = [
    {"area": "avg_grid", "mode": "average", "width": 32, "height": 32,
     "src_y_min": 0, "src_y_max": 64, "src_x_min": 0, "src_x_max": 64},
    {"area": "nn_grid", "mode": "nearest", "width": 48, "height": 40,
     "src_y_min": 4, "src_y_max": 60, "src_x_min": 0, "src_x_max": 64},
    {"area": "bil_grid", "mode": "bilinear", "width": 40, "height": 40,
     "src_y_min": 0, "src_y_max": 64, "src_x_min": 8, "src_x_max": 56},
    {"area": "ewa_grid", "mode": "ewa", "width": 32, "height": 32,
     "src_y_min": 0, "src_y_max": 64, "src_x_min": 0, "src_x_max": 64},
]
# query_pack: one query per pack (see README.md for the choice)
QP_QUERIES = ["q01", "q20", "q23", "q96", "q35", "q38", "q55", "q41", "q165", "q46", "q140"]
# a pass of the mix falls from about 4.6 s to 2.3 s over its first ten
# passes in a JVM: QP_WARM_PASSES untimed passes, then a fixed number of
# timed passes sized from --seconds at QP_NOMINAL_PASS_S a pass
QP_WARM_PASSES, QP_NOMINAL_PASS_S = 2, 4.0

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ---------------------------------------------------------------

def source_files(root):
    files = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for d in (root, HERE):
        files += [os.path.join(d, "build.sbt"), os.path.join(d, "project", "build.properties")]
    return sorted(files)


def source_stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness; return the JVM launch settings
    the build wrote (classpath, the program's JVM options) and the source
    stamp."""
    launch = os.path.join(HERE, ".build", "launch.json")
    stamp_file = os.path.join(HERE, ".build", "stamp")
    stamp = source_stamp(root)
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
            "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"))
        log = os.path.join(HERE, ".build", "build.log")
        with open(log, "w") as fh:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {rc}); log in {log}", 3)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(launch) as fh:
        return json.load(fh), stamp


def labels(root, args, cores, stamp):
    sha, dirty = "none", None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                                 text=True, check=True).stdout.strip()
            dirty = bool(subprocess.run(["git", "status", "--porcelain"], cwd=root,
                                        capture_output=True, text=True).stdout.strip())
        except (OSError, subprocess.CalledProcessError):
            pass
    return {"git_sha": sha, "git_dirty": dirty, "src_sha256": stamp[:16],
            "nproc": os.cpu_count(), "master": f"local[{cores}]", "xmx": XMX,
            "seed": args.seed, "workload": args.workload, "sf": SF,
            "seconds": args.seconds, "run_kind": "traced" if args.trace else "timed"}


# ---- inputs --------------------------------------------------------------

def gc_config(out):
    areas = {t["area"]: {"products": {p: {"formats": [{"format": "parquet"}]}
                                      for p in GC_PRODUCTS}} for t in GC_TARGETS}
    return json.dumps({
        "product_list": {
            "output_dir": out,
            "fname_pattern": "{platform_name}_{orbit_number}_{area}_{product}.{format}",
            "min_valid_data_fraction": GC_MIN_VALID,
            "aggregate": {"x": GC_FACTOR, "y": GC_FACTOR},
            "check_metadata": {"platform_name": sorted(PLATFORMS.values())},
            "metadata_aliases": {"platform_name": PLATFORMS},
            "resample_targets": GC_TARGETS,
            "areas": areas},
        "workers": [{"fun": f} for f in (
            "create_scene", "metadata_alias", "check_metadata", "aggregate", "resample",
            "check_valid_data_fraction", "save_datasets", "check_results", "file_publisher")]})


def start_time(rng, i):
    return f"2024-01-{1 + i % 28:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00"


def granule_chain_inputs(work, seed, sizes):
    """For each entry of ``sizes``, that many messages over granules
    sliced from a generated lineitem. In each granule the seed marks one
    product as mostly fill, so valid-fraction pruning drops it on the
    targets where fill stays null. One message in ten (at least one a
    phase) names an off-list platform, which ``check_metadata`` must
    reject. It is never a phase's first message, whose op may also pay
    the stream's start, so every phase splits its time the same way."""
    import numpy as np
    rng = random.Random(seed)
    nrng = np.random.default_rng([seed, 2])
    price = gen.lineitem(nrng, int(6_000_000 * SF))["l_extendedprice"] / 1000.0
    cells = GC_SIZE * GC_SIZE * len(GC_PRODUCTS)
    gdir = os.path.join(work, "granules")
    os.makedirs(gdir)
    orbit = rng.randrange(10_000, 50_000)
    phases, msgs, i = [], {}, 0
    for size in sizes:
        rejects = set(rng.sample(range(1, size), max(1, round(size / 10))))
        phase = []
        for k in range(size):
            off = rng.randrange(0, len(price) - cells)
            bad = rng.randrange(len(GC_PRODUCTS))
            fills = [rng.uniform(0.75, 0.9) if j == bad else rng.uniform(0.0, 0.3)
                     for j in range(len(GC_PRODUCTS))]
            path = os.path.join(gdir, f"granule_{i:03d}.parquet")
            gen.granule(path, price[off:off + cells], GC_PRODUCTS, fills, GC_SIZE, GC_SIZE)
            plat = rng.choice(OFF_LIST) if k in rejects else rng.choice(sorted(PLATFORMS))
            js = gen.message("file", [path], plat, orbit + i, start_time(rng, i))
            phase.append(js)
            msgs[js] = {"paths": [path], "orbit": orbit + i, "platform": plat,
                        "expect_reject": k in rejects}
            i += 1
        phases.append(phase)
    return phases, msgs


# ---- checks --------------------------------------------------------------

def check_granule_ops(con, ops, msgs):
    """Compare each granule_chain op's manifest and files with the DuckDB
    reference; fills ``ok`` and ``why`` on every op."""
    for op in ops:
        msg = msgs.get(op.get("message"))
        if msg is None:
            settle(op, {"checks_ok": False}, "report for an unknown message")
            continue
        exp = {} if msg["expect_reject"] else reference.granule_chain(
            con, msg["paths"][0], GC_TARGETS, GC_FACTOR, GC_PRODUCTS, GC_MIN_VALID / 100.0)
        judge(con, op, exp, msg)
        op["key"] = f"orbit{msg['orbit']}:{msg['platform']}"


def judge(con, op, exp, msg):
    man = op.get("manifest", [])
    got = {(f["area"], f["product"], f["format"]): f for f in man}
    why = []
    if op.get("error"):
        why.append(f"error: {op['error']}")
    if op.get("aborted"):
        why.append(f"aborted by {op.get('aborted_by')}: {op['aborted']}")
    if set(got) != set(exp) and not msg.get("expect_reject"):
        why.append(f"manifest {sorted(map(str, got))} != expected {sorted(map(str, exp))}")
    for key, f in got.items():
        e = exp.get(key)
        if e is None:
            continue
        w = reference.written(con, f["path"], f["format"])
        if f["bytes"] <= 0 or w["rows"] != e["rows"] or f["rows"] != e["rows"]:
            why.append(f"{key}: rows {w['rows']} (manifest {f['rows']}, bytes {f['bytes']}) "
                       f"!= expected {e['rows']}")
        if "sum" in e and not (reference.close(w["sum"], e["sum"]) and w["nonnull"] == e["nonnull"]):
            why.append(f"{key}: checksum {w['sum']}/{w['nonnull']} != {e['sum']}/{e['nonnull']}")
    rejected = bool(op.get("aborted"))
    if msg.get("expect_reject"):  # only the metadata check may refuse it
        rejected = op.get("aborted_by") == "check_metadata"
    settle(op, {"error": op.get("error"), "rejected": rejected,
                "expected_rejection": msg.get("expect_reject", False), "outputs": man,
                "checks_ok": not why}, "; ".join(why))


def settle(op, status, why):
    op["status"] = status
    op["ok"] = M.op_ok(status)
    op["why"] = "" if op["ok"] else why


def check_query_ops(con, ops, oracles, results_dir):
    counts = {}
    for op in ops:
        q = op["key"]
        if q not in counts:
            sql = oracles.get(q) or ""
            try:
                counts[q] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] if sql else None
            except duckdb.Error as e:
                counts[q] = f"oracle error: {e}"
        exp = counts[q]
        why = ""
        if op.get("error"):
            why = f"error: {op['error']}"
        elif not isinstance(exp, int):
            why = exp or "no oracle SQL"
        elif op.get("rows") != exp:
            why = f"rows {op.get('rows')} != oracle {exp}"
        settle(op, {"error": op.get("error"), "checks_ok": not why}, why)
    if results_dir:  # the traced run also compares full results
        for q in sorted({o["key"] for o in ops if o["phase"] == "traced"}):
            why = compare_result(con, oracles.get(q), os.path.join(results_dir, q))
            if why:
                for op in ops:
                    if op["key"] == q and op["phase"] == "traced" and op["ok"]:
                        settle(op, {"checks_ok": False}, f"result differs: {why}")
                        break


def compare_result(con, sql, out):
    """Order-insensitive full compare of one Spark result with its oracle
    (columns by name, rows sorted, doubles to 1e-9 relative)."""
    if not sql:
        return "no oracle SQL"
    try:
        exp = con.execute(sql).df()
        got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')").df()
    except duckdb.Error as e:
        return str(e)
    cols = sorted(exp.columns)
    if cols != sorted(got.columns):
        return f"columns {sorted(got.columns)} != {cols}"
    if len(exp) != len(got):
        return f"rows {len(got)} != {len(exp)}"

    def rows(df):
        return sorted((tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False)),
                      key=repr)
    for a, b in zip(rows(exp), rows(got)):
        for x, y in zip(a, b):
            if not _same(x, y):
                return f"first difference {x!r} != {y!r}"
    return ""


def _cell(v):
    if v is None or (isinstance(v, float) and v != v):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v if isinstance(v, (int, str, bool)) else str(v)


def _same(x, y):
    if isinstance(x, float) or isinstance(y, float):
        return x is not None and y is not None and reference.close(float(x), float(y))
    return x == y


# ---- metrics -------------------------------------------------------------

def end_to_end(ops, phase, setup_s, rss_mb):
    timed = [o for o in ops if o["phase"] == "timed"]
    lat = [(o["t1"] - o["t0"]) / 1000.0 for o in timed]
    p, tail_v, note = M.tail(lat)
    wall = (phase["t1"] - phase["t0"]) / 1000.0
    return {
        "setup_s": setup_s,
        "latency_p50_s": M.median(lat),
        "latency_tail_s": tail_v,
        "ops_per_s": len(timed) / wall,
        "peak_rss_mb": rss_mb,
    }, {"tail": note, "timed_ops": len(timed), "timed_wall_s": wall}


def per_layer(ev, ops, cores, workload, setup, input_bytes):
    traced = [o for o in ops if o["phase"] == "traced"]
    n = len(traced)
    walls = [(o["t1"] - o["t0"]) for o in traced]
    spans = [s for s in ev["span"] if s["phase"] == "traced"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    jobs = [(j["t0"], j["t1"]) for j in ev["job"]]
    stages = ev["stage"]
    out = {}

    def within(o, t0, t1, slack=2.0):
        return t0 >= o["t0"] - slack and t1 <= o["t1"] + slack

    per = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_wall", "gap", "run_ms", "cpu_ns",
                            "gc_ms", "scan_bytes", "scan_rows", "shuffle_write",
                            "shuffle_read", "spill", "output_bytes", "output_rows")}
    for o in traced:
        oj = [(a, b) for a, b in jobs if within(o, a, b)]
        per["jobs"] += len(oj)
        per["job_wall"] += M.covered(o["t0"], o["t1"], oj)
        per["gap"] += M.driver_gap(o["t0"], o["t1"], oj)
        for s in stages:
            if o["t0"] - 2 <= s["t1"] <= o["t1"] + 2:
                per["stages"] += 1
                for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "scan_bytes", "scan_rows",
                          "shuffle_write", "shuffle_read", "spill", "output_bytes",
                          "output_rows"):
                    per[k] += s[k]
    acts = [a for a in ev["action"] if a["op"] in {o["i"] for o in traced}]
    avg = (lambda x: x / n) if n else (lambda x: 0.0)
    out.update({
        "spark.jobs_per_op": avg(per["jobs"]),
        "spark.stages_per_op": avg(per["stages"]),
        "spark.tasks_per_op": avg(per["tasks"]),
        "spark.actions_per_op": avg(len(acts)),
        "spark.exchanges_per_op": avg(sum(a["exchanges"] for a in acts)),
        "spark.action_wall_s_per_op": avg(sum(a["wall_ms"] for a in acts) / 1000.0),
        "spark.job_wall_s_per_op": avg(per["job_wall"] / 1000.0),
        "spark.driver_gap_s_per_op": avg(per["gap"] / 1000.0),
        "spark.executor_busy_frac": per["run_ms"] / (cores * sum(walls)) if walls else 0.0,
        "spark.task_run_s_per_op": avg(per["run_ms"] / 1000.0),
        "spark.task_cpu_s_per_op": avg(per["cpu_ns"] / 1e9),
        "spark.task_gc_s_per_op": avg(per["gc_ms"] / 1000.0),
        "spark.scan_bytes_per_op": avg(per["scan_bytes"]),
        "spark.scan_rows_per_op": avg(per["scan_rows"]),
        "spark.shuffle_write_bytes_per_op": avg(per["shuffle_write"]),
        "spark.shuffle_read_bytes_per_op": avg(per["shuffle_read"]),
        "spark.spill_bytes_per_op": avg(per["spill"]),
        "spark.output_bytes_per_op": avg(per["output_bytes"]),
        "spark.output_rows_per_op": avg(per["output_rows"]),
        "spark.scan_amplification": per["scan_bytes"] / input_bytes if input_bytes else 0.0,
    })
    # self time of every driver span, against its driver-span children
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    selft = {}
    for s in spans:
        selft.setdefault(s["name"], 0.0)
        selft[s["name"]] += M.self_time(s["t0"], s["t1"], children.get(s["id"], []))
    for p in ("create_scene", "metadata_alias", "check_metadata", "aggregate", "resample",
              "check_valid_data_fraction", "save_datasets", "check_results", "file_publisher"):
        out[f"plugin.{p}_s"] = avg(selft.get(f"plugin.{p}", 0.0) / 1000.0)
    saves = [s for s in spans if s["name"] == "plugin.save_datasets"]
    cvdf = [s for s in spans if s["name"] == "plugin.check_valid_data_fraction"]
    firsts = [s for s in spans if s["name"] == "plugin.create_scene"]
    checked = sum(s.get("items_in", 0) for s in cvdf)
    started = sum(s.get("items_in", 0) for s in firsts)
    out.update({
        "plugin.save_datasets.files_per_op": avg(sum(s.get("files_out", 0) for s in saves)),
        "plugin.save_datasets.bytes_per_op": avg(sum(s.get("bytes_out", 0) for s in saves)),
        "plugin.check_valid_data_fraction.pruned_frac":
            sum(s.get("items_in", 0) - s.get("items_out", 0) for s in cvdf) / checked if checked else 0.0,
        "pipeline.items_written_frac":
            sum(s.get("files_out", 0) for s in saves) / started if started else 0.0,
    })
    plugin_total = sum(v for k, v in selft.items() if k.startswith("plugin."))
    pj = 0.0
    for o in traced:
        mine = by_op.get(o["i"], [])
        runs = [s for s in mine if s["name"] == "runner.process_jobs"]
        chains = [s for s in mine if s["name"] == "registry.chain"]
        if runs:
            pj += sum(s["t1"] - s["t0"] for s in runs)
        elif chains:  # runMessages: the chain runs from its build to the report
            pj += o["t1"] - chains[-1]["t1"]
    out.update({
        "messages.to_context_s": avg(selft.get("messages.to_context", 0.0) / 1000.0),
        "registry.chain_s": avg(selft.get("registry.chain", 0.0) / 1000.0),
        "runner.process_jobs_s": avg(pj / 1000.0),
        "runner.overhead_s": avg((pj - plugin_total) / 1000.0) if pj else 0.0,
    })
    batches = ev["batch"]  # streaming progress is recorded in the traced phase only
    trig = [b.get("triggerExecution", 0) for b in batches]
    addb = [b.get("addBatch", 0) for b in batches]
    gaps = []
    last = {}
    for b in sorted(batches, key=lambda b: b["t"]):
        q = b.get("query")
        if q in last:
            gaps.append(b["t"] - last[q])
        last[q] = b["t"] + b.get("triggerExecution", 0)
    nb = len(batches)
    bavg = (lambda xs: sum(xs) / nb / 1000.0) if nb else (lambda xs: 0.0)
    out.update({
        "stream.batches": float(nb),
        "stream.trigger_s_per_batch": bavg(trig),
        "stream.add_batch_s_per_batch": bavg(addb),
        "stream.bookkeeping_s_per_batch": bavg([t - a for t, a in zip(trig, addb)]),
        "stream.wal_commit_s_per_batch": bavg([b.get("walCommit", 0) for b in batches]),
        "stream.latest_offset_s_per_batch": bavg([b.get("latestOffset", 0) for b in batches]),
        "stream.query_planning_s_per_batch": bavg([b.get("queryPlanning", 0) for b in batches]),
        "stream.inter_batch_gap_s": sum(gaps) / len(gaps) / 1000.0 if gaps else 0.0,
    })
    passes = max(1, round(n / len(QP_QUERIES))) if workload == "query_pack" else 1
    for pack in ("Relational", "EventOps", "TextAnalysis", "Dedup", "Similarity", "Media",
                 "Trollflow", "TiledRaster", "Search", "Curation"):
        out[f"queries.{pack}_s"] = sum(
            (o["t1"] - o["t0"]) / 1000.0 for o in traced if o.get("pack") == pack) / passes
    out["queries.build_s_per_op"] = avg(sum(o.get("build_ms", 0.0) for o in traced) / 1000.0)
    out["queries.shared_warm_s"] = setup.get("queries.shared_warm", 0.0)
    out["jvm.gc_s_per_op"] = avg(sum(o["gc_ms"] for o in traced) / 1000.0)
    out["jvm.gc_count_per_op"] = avg(sum(o["gc_count"] for o in traced))
    return out


def coverage(ev, ops):
    """Per traced op: the share of its wall time covered by top-level
    driver spans; and for every Spark job of a traced op, the innermost
    span it ran in."""
    spans = [s for s in ev["span"] if s["phase"] == "traced" and s.get("replay") is None]
    cov, where = [], {}
    for o in (o for o in ops if o["phase"] == "traced"):
        mine = [s for s in spans if s["op"] == o["i"]]
        top = [(s["t0"], s["t1"]) for s in mine if s["parent"] == 0]
        cov.append(M.covered(o["t0"], o["t1"], top) / (o["t1"] - o["t0"]))
        for j in ev["job"]:
            if o["t0"] - 2 <= j["t0"] and j["t1"] <= o["t1"] + 2:
                inside = [s for s in mine if s["t0"] - 2 <= j["t0"] and j["t1"] <= s["t1"] + 2]
                name = min(inside, key=lambda s: s["t1"] - s["t0"])["name"] if inside else "none"
                where[name] = where.get(name, 0) + 1
    return {"span_coverage_min": min(cov) if cov else None, "jobs_by_span": where}


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wall0 = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the program's sources (src/main/scala) are missing")
    launch, stamp = build(root)
    cores = os.cpu_count() or 1
    lab = labels(root, args, cores, stamp)

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return run(args, root, launch, cores, lab, work, wall0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def timed_ops(seconds, nominal_s, least):
    """How many messages or passes a timed phase runs: a fixed amount of
    work, sized from ``--seconds`` at a nominal rate, so that every run
    with the same ``--seconds`` times the same work."""
    return max(least, round(seconds / nominal_s))


def run(args, root, launch, cores, lab, work, wall0):
    t_in = time.time()
    out_dir = os.path.join(work, "out")
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
            "cores": cores, "work": work, "events": os.path.join(work, "events.jsonl")}
    msgs, input_bytes = {}, 0
    if args.workload == "granule_chain":
        timed = timed_ops(args.seconds, GC_NOMINAL_S, 3)
        # a traced run also runs a traced and a local[1] phase, each half
        # the timed one, so that it ends in time
        names = ["warmup", "timed"] + (["traced", "local1"] if args.trace else [])
        sizes = [GC_WARMUP, timed] + [max(3, timed // 2)] * (len(names) - 2)
        phases, msgs = granule_chain_inputs(work, args.seed, sizes)
        spec.update(config=gc_config(out_dir), **dict(zip(names, phases)))
    else:
        data = os.path.join(work, "data")
        gen.tables(data, args.seed, SF)
        order = list(QP_QUERIES)
        random.Random(args.seed).shuffle(order)
        spec.update(data=data, queries=order, warm_passes=QP_WARM_PASSES,
                    passes=timed_ops(args.seconds, QP_NOMINAL_PASS_S, 2),
                    oracles=os.path.join(work, "oracles.json"))
        input_bytes = sum(os.path.getsize(f) for f in glob.glob(f"{data}/*.parquet"))
    inputs_s = time.time() - t_in
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)

    # the program's own JVM options with a fixed, pre-touched heap: with a
    # growing heap, peak RSS and op times hinged on when G1 grew it. No
    # perf-data file, so that the JVM writes nothing outside the work dir.
    opts = [o for o in launch["java_options"] if not o.startswith(("-Xmx", "-Xms"))]
    cmd = ["java", *opts, f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", ":".join(launch["classpath"]), "graft.perfbench.Harness", spec_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=150).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    ev = {k: [] for k in ("jvm", "setup", "op", "phase", "span", "job", "stage", "action",
                          "batch", "job_counter", "rss", "fatal")}
    if os.path.exists(spec["events"]):
        for line in open(spec["events"]):
            if line.strip():
                e = json.loads(line)
                ev.setdefault(e["kind"], []).append(e)
    if rc != 0 or ev["fatal"] or not ev["phase"]:
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"harness failed (exit {rc}): {ev['fatal']}", 4)

    ops = [o for o in ev["op"] if o["phase"] != "warmup"]
    con = duckdb.connect()
    results_dir = None
    if args.workload == "granule_chain":
        check_granule_ops(con, ev["op"], msgs)
        input_bytes = sum(sum(os.path.getsize(p) for p in msgs[o["message"]]["paths"])
                          for o in ops if o["phase"] == "traced" and o.get("message") in msgs)
    else:
        reference.load_tables(con, spec["data"], gen.TABLES)
        oracles = json.load(open(spec["oracles"]))
        if args.trace:
            results_dir = os.path.join(work, "results")
        check_query_ops(con, ev["op"], oracles, results_dir)
        n_traced = sum(1 for o in ops if o["phase"] == "traced")
        input_bytes *= n_traced / len(QP_QUERIES)

    setup = {s["name"]: (s["t1"] - s["t0"]) / 1000.0 for s in ev["setup"]}
    setup["setup.inputs"] = inputs_s
    setup_s = sum(setup.get(k, 0.0) for k in (
        "setup.session", "setup.inputs", "setup.warmup", "queries.shared_warm"))
    phases = {p["name"]: p for p in ev["phase"]}
    rss_mb = ev["rss"][0]["vmhwm_kb"] / 1024.0 if ev["rss"] else 0.0
    e2e, e2e_note = end_to_end(ops, phases["timed"], setup_s, rss_mb)
    attempted = len(ops)
    bad = [o for o in ops if not o.get("ok")]
    warm_bad = [o for o in ev["op"] if o["phase"] == "warmup" and not o.get("ok")]
    failed_frac = M.failed_frac([o["status"] for o in ops])

    def emit(kind, payload):
        print(json.dumps({"run": lab, "line": kind, **payload}, sort_keys=True))

    for o in bad + warm_bad:
        emit("failed_op", {"phase": o["phase"], "op": o["i"], "key": o.get("key"),
                           "why": o.get("why")})
    emit("op_seconds", {ph: [round((o["t1"] - o["t0"]) / 1000.0, 4)
                             for o in ev["op"] if o["phase"] == ph]
                        for ph in ("warmup", "timed", "traced", "local1")})
    if args.workload == "query_pack":
        per_query = {}
        for o in ops:
            if o["phase"] == "timed":
                per_query.setdefault(o["key"], []).append(round((o["t1"] - o["t0"]) / 1000.0, 4))
        emit("query_times", {"phase": "timed", "seconds": per_query})
    timed_wall = (phases["timed"]["t1"] - phases["timed"]["t0"]) / 1000.0
    harness_s = (time.time() - wall0) - setup_s - timed_wall
    emit("summary", {"attempted": attempted, "failed": len(bad), "failed_ops_frac": failed_frac,
                     "warmup_failed": len(warm_bad), "setup": setup, **e2e_note,
                     "jvm_start_s": ev["jvm"][0]["uptime_ms"] / 1000.0 if ev["jvm"] else None,
                     "bench.harness_s": harness_s})
    if args.trace:
        layer = per_layer(ev, ops, cores, args.workload, setup, input_bytes)
        layer["setup.session_s"] = setup.get("setup.session", 0.0)
        layer["setup.inputs_s"] = setup.get("setup.inputs", 0.0)
        layer["setup.warmup_s"] = setup.get("setup.warmup", 0.0)
        tr = [o for o in ops if o["phase"] == "traced"]
        tm = [o for o in ops if o["phase"] == "timed"]
        l1 = [o for o in ops if o["phase"] == "local1"]
        mean = lambda xs: sum((o["t1"] - o["t0"]) for o in xs) / len(xs)  # noqa: E731
        layer["bench.trace_overhead_frac"] = mean(tr) / mean(tm) - 1.0
        layer["bench.harness_s"] = harness_s
        if args.workload == "query_pack":
            first = {o["key"]: o["t1"] - o["t0"] for o in reversed(tm)}
            both = [o for o in l1 if o["key"] in first]
            layer["scaling.cores_speedup"] = (sum(o["t1"] - o["t0"] for o in both) /
                                              sum(first[o["key"]] for o in both))
        else:
            layer["scaling.cores_speedup"] = (M.median([o["t1"] - o["t0"] for o in l1]) /
                                              M.median([o["t1"] - o["t0"] for o in tm]))
        cov = coverage(ev, ops)
        emit("trace_checks", {**cov, "job_counter": ev["job_counter"]})
    metrics = declared_metrics(root, "per_layer" if args.trace else "end_to_end",
                               layer if args.trace else e2e)
    emit("metrics", {"metrics": metrics})
    print(json.dumps({"correct": not bad and not warm_bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))
    return 0


def declared_metrics(root, section, values):
    """The metrics BENCHMARK.json declares for this kind of run, with its
    units; a declared metric the run did not compute, or a computed one it
    does not declare, is an error in the benchmark."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    if set(units) != set(values):
        fail(f"{section} metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(units) - set(values))}, "
             f"undeclared {sorted(set(values) - set(units))}", 5)
    return {k: {"value": values[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
