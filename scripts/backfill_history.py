#!/usr/bin/env python3
"""Backfill BENCH_HISTORY.jsonl from the BENCH_r*.json artifacts.

The Bench main appends per-query rows for the round it just ran
(Bench.scala appendHistory), so the trend file started life with only
round 8. This script parses each BENCH_rNN[_cN].json's contract line
`{"metric":"total",...}` and writes that run's rows.

A run is keyed by (round, cpus, sf), all three taken from the artifact
(`BENCH_r15_c8.json` is round 15 at 8 cores), and every row is stamped
with its run's `cpus` and `sf`. A row without `cpus` is a 32-core row of
its round's official artifact. Rows filed under a round that has no
artifact, whose `_cal` equals some artifact's calibration, are that
artifact's run under the wrong round number (Bench labels a run with the
round in progress, so a side run after a round closed landed one round
ahead) and are relabeled to its (round, cpus, sf).

Idempotent: each run's rows are replaced, never duplicated, and runs
already present from a newer source (the live appendHistory) are left
alone unless --force.
"""
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LINE_RE = re.compile(r'\{"metric":"total".*')


def parsed_line(artifact: Path):
    doc = json.loads(artifact.read_text())
    if isinstance(doc.get("parsed"), dict) and doc["parsed"].get("queries"):
        return doc["parsed"]
    # the driver stores the scraped stdout tail; the contract line is the
    # LAST metric line in it (children print partial lines first)
    tail = doc.get("tail", "")
    matches = LINE_RE.findall(tail)
    if matches:
        # the line may be embedded in a log line; cut trailing log noise
        # by parsing the first complete JSON object
        obj, _ = json.JSONDecoder().raw_decode(matches[-1])
        return obj
    # rounds 2-4 shipped a 2000-char tail whose head (and the line's
    # "metric" prefix) is cut off; salvage the per-query pairs that ARE
    # visible, dropping the first pair since it may be clipped mid-name
    # or mid-number. A partial trend beats a missing round, and these
    # rows are marked partial so a consumer can tell.
    pairs = re.findall(r'"(q\d+[a-z_0-9]*)":(-?[0-9.]+)', tail)
    if len(pairs) < 10:
        return None
    return {"queries": dict(pairs[1:]), "partial": True}


def short_id(name: str) -> str:
    return name.split("_", 1)[0]


def run_of(artifact: Path):
    """(round, cpus, sf) of a BENCH_rNN[_cN].json artifact."""
    doc = json.loads(artifact.read_text())
    rnd = int(re.search(r"r(\d+)", artifact.name).group(1))
    return rnd, doc.get("cpus", 32), doc.get("sf", 0.1)


def key(row):
    return row["round"], row["cpus"], row["sf"]


def main():
    force = "--force" in sys.argv
    hist = REPO / "BENCH_HISTORY.jsonl"
    rows = []
    if hist.exists():
        rows = [json.loads(l) for l in hist.read_text().splitlines() if l.strip()]
    artifacts = {run_of(a): a for a in sorted(REPO.glob("BENCH_r*.json"))}
    official_sf = {r: s for (r, c, s) in artifacts if c == 32}
    for r in rows:
        r.setdefault("cpus", 32)
        r.setdefault("sf", official_sf.get(r["round"], 0.1))
    # relabel runs filed under a round with no artifact by their calibration
    cals = {}
    for run, artifact in artifacts.items():
        obj = parsed_line(artifact)
        if obj and obj.get("calibration") is not None:
            cals[float(obj["calibration"])] = run
    for rnd in sorted({r["round"] for r in rows} - {k[0] for k in artifacts}):
        block = [r for r in rows if r["round"] == rnd]
        cal = next((r["sec"] for r in block if r["query"] == "_cal"), None)
        run = cals.get(cal)
        if run is None or run in {key(r) for r in rows}:
            continue
        for r in block:
            r["round"], r["cpus"], r["sf"] = run
        print(f"relabeled round {rnd}: {len(block)} rows are {artifacts[run].name}")
    have = {key(r) for r in rows}
    for run, artifact in sorted(artifacts.items()):
        if run in have and not force:
            continue
        obj = parsed_line(artifact)
        if obj is None:
            print(f"skip {artifact.name}: no contract line")
            continue
        rnd, cpus, sf = run
        rows = [r for r in rows if key(r) != run]
        for name, sec in obj["queries"].items():
            rows.append({"round": rnd, "query": short_id(name),
                         "sec": round(float(sec), 2), "cpus": cpus, "sf": sf})
        if obj.get("calibration") is not None:
            rows.append({"round": rnd, "query": "_cal",
                         "sec": float(obj["calibration"]), "cpus": cpus, "sf": sf})
        print(f"backfilled {artifact.name}: {len(obj['queries'])} queries")
    rows.sort(key=lambda r: (r["round"], -r["cpus"], str(r["sf"]), r["query"]))
    hist.write_text(
        "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows))
    counts = {}
    for r in rows:
        counts[key(r)] = counts.get(key(r), 0) + 1
    print("runs now present:", counts)


if __name__ == "__main__":
    main()
