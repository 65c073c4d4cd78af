#!/usr/bin/env python3
"""Bench regression guard: feed it graft.Bench output (file or stdin)
and it checks per-query and total budgets.

Accepted inputs, tried in order:
  1. the driver's BENCH_r{N}.json artifact ({"tail": "<last 2000 chars of
     stdout>", ...}) — the tail is scanned like raw stdout;
  2. raw Bench stdout: the last parseable JSON line wins — Bench emits a
     verbose line ({"queries":{full_name:sec}}) then a compact line
     ({"qms":{short_id:millis}}) sized to survive the driver's capture;
  3. regex fallback for a truncated capture: "qNN":<millis> pairs plus the
     trailing "value":<total> metadata.

Usage:  python3 tools/check_bench.py [BENCH_rN.json | bench.log]
        ... runMain graft.Bench | python3 tools/check_bench.py

Exit 0 = within budget, exit 1 = regression (or any failed query).

Solo-retry adjudication (r12 verdict task #1): Bench re-runs over-budget
query lines solo at suite end and ships both readings in a `retry` field.
A line whose retry is within budget prints NOISY (mid-run noisy-neighbor
window — the shared host has multi-hour ones) and does not fail the gate;
its retry reading also replaces the in-suite one in the total check. A
retry still over budget fails loudly: a real regression is slow twice.
The budgets are read from tools/bench_budgets.txt, the one copy of the
table: src/main/scala/graft/Budgets.scala reads the same file, because
Bench needs the model in-process to pick its retry lines.

Calibration: budgets derive from per-query TYPICAL times (measured sf0.1
local[32] steady state) scaled by a BOX FACTOR computed at run time — the
median of observed/typical across the whole suite. A box that runs
everything uniformly 1.8x slower moves every budget together (no false
failures), while a single regressed query still sticks out against the
suite median (no lost sensitivity — the failure mode of hard-coding
doubled constants, which left ~2.5x headroom on a fast box).
"""
import json
import os
import re
import sys

# The model constants; every other name in the table is a per-line typical.
CONSTANTS = ("DEFAULT_TYPICAL", "HEADROOM", "FLOOR_SEC")
BUDGETS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "bench_budgets.txt")
_ENTRY = re.compile(r"([A-Za-z0-9_]+)\s+([0-9]+(?:\.[0-9]+)?)")


def load_budgets(path):
    """Parse the budget table into {name: seconds}. A malformed or repeated
    line raises ValueError naming the file, the line number and the line."""
    table = {}
    with open(path, encoding="utf-8") as f:
        for n, line in enumerate(f, 1):
            entry = line.split("#", 1)[0].strip()
            if not entry:
                continue
            m = _ENTRY.fullmatch(entry)
            if m is None or m.group(1) in table:
                raise ValueError(f"{path}:{n}: malformed budget line "
                                 f"{line.rstrip()!r} (want `name seconds`, "
                                 f"each name once)")
            table[m.group(1)] = float(m.group(2))
    for const in CONSTANTS:
        if const not in table:
            raise ValueError(f"{path}: missing {const}")
    return table


_BUDGETS = load_budgets(BUDGETS_FILE)
TYPICAL = {k: v for k, v in _BUDGETS.items() if k not in CONSTANTS}
DEFAULT_TYPICAL = _BUDGETS["DEFAULT_TYPICAL"]
HEADROOM = _BUDGETS["HEADROOM"]
FLOOR_SEC = _BUDGETS["FLOOR_SEC"]
TOTAL_HEADROOM = 1.6    # suite total: tighter than per-query (noise
                        # averages out across ~114 queries)


# Short id ("q07") -> full registry name, for readable reports when only
# the compact line survived. Budgets key off the same prefix either way.
_SHORT_TO_NAME = {name.split("_")[0]: name for name in TYPICAL}


def _retry_map(bench):
    """The solo-retry readings (r12: Bench re-runs over-budget query lines
    solo at suite end and ships both numbers). Verbose line: full names +
    seconds; compact line: short ids + millis (same convention as qms)."""
    r = bench.get("retry") or {}
    if "qms" in bench:  # compact line: short id -> millis
        return {_SHORT_TO_NAME.get(sid, sid): ms / 1000.0
                for sid, ms in r.items()}
    return dict(r)


def _normalize(bench):
    """-> (queries {name: sec}, total sec or None, failed [name],
    retry {name: sec})."""
    failed = bench.get("failed", [])
    if "queries" in bench:
        return (dict(bench["queries"]), bench.get("value"), failed,
                _retry_map(bench))
    qs = {_SHORT_TO_NAME.get(sid, sid): ms / 1000.0
          for sid, ms in bench["qms"].items()}
    return qs, bench.get("value"), failed, _retry_map(bench)


def load_bench(raw):
    """Parse any of the accepted inputs (see module doc) into
    (queries, total, failed). Raises SystemExit with a message if nothing
    parseable is found."""
    text = raw
    try:
        outer = json.loads(raw)
        if isinstance(outer, dict) and "tail" in outer:
            if isinstance(outer.get("parsed"), dict) and (
                    "queries" in outer["parsed"] or "qms" in outer["parsed"]):
                return _normalize(outer["parsed"])
            text = outer["tail"]
        elif isinstance(outer, dict) and ("queries" in outer or "qms" in outer):
            return _normalize(outer)
    except ValueError:
        pass
    # raw stdout / tail capture: last parseable bench line wins (Bench
    # prints the compact line last precisely so it is the one that parses)
    for line in reversed(text.splitlines()):
        start = line.find("{")
        if start < 0:
            continue
        try:
            bench = json.loads(line[start:])
        except ValueError:
            continue
        if isinstance(bench, dict) and ("queries" in bench or "qms" in bench):
            return _normalize(bench)
    # regex fallback: a capture that cut even the compact line mid-object
    # still carries "qNN":millis pairs and the trailing metadata; pre-r8
    # artifacts only have verbose "qNN_name":sec pairs — recover those too.
    # The retry object's pairs use the SAME key convention, so extract and
    # strip it FIRST — otherwise a retry entry would silently overwrite
    # its query's timed reading in the recovered dict.
    retry = {}
    for robj in re.findall(r'"retry":(\{[^}]*\})', text):
        retry.update({_SHORT_TO_NAME.get(sid, sid): int(ms) / 1000.0
                      for sid, ms in re.findall(r'"([qx]\d+)":(\d+)', robj)})
        retry.update({name: float(sec) for name, sec in
                      re.findall(r'"([qx]\d+_[a-z0-9_]+)":([0-9.]+)', robj)})
    text = re.sub(r'"retry":\{[^}]*\}', '"retry":{}', text)
    qs = {_SHORT_TO_NAME.get(sid, sid): int(ms) / 1000.0
          for sid, ms in re.findall(r'"([qx]\d+)":(\d+)[,}]', text)}
    qs.update({name: float(sec) for name, sec in
               re.findall(r'"([qx]\d+_[a-z0-9_]+)":([0-9.]+)', text)})
    if qs:
        totals = re.findall(r'"value":([0-9.]+)', text)
        nq = re.findall(r'"n_queries":(\d+)', text)
        # the captured total spans ALL queries; only compare it against the
        # typical-sum when every per-query row was recovered
        complete = bool(nq) and int(nq[-1]) == len(qs)
        total = float(totals[-1]) if totals and complete else None
        print(f"NOTE: truncated capture — regex fallback recovered "
              f"{len(qs)} per-query entries (remaining rows are lost)")
        return qs, total, [], retry
    raise SystemExit("check_bench: no parseable bench line in input")


def main() -> int:
    raw = open(sys.argv[1]).read() if len(sys.argv) > 1 else sys.stdin.read()
    queries, total, failed_queries, retry = load_bench(raw)

    # Box factor: median observed/typical over the whole suite, clamped —
    # a broken box claim can at most 4x the budgets, never erase the gate.
    ratios = sorted(sec / TYPICAL.get(name, DEFAULT_TYPICAL)
                    for name, sec in queries.items())
    box = ratios[len(ratios) // 2] if ratios else 1.0
    box = max(0.5, min(4.0, box))

    failures, warns, noisy = [], [], []
    for name in failed_queries:
        failures.append(f"FAIL {name}: query failed (excluded from total)")
    # Adjudicated total: when a line's solo retry passes, the in-suite
    # reading was box noise, so the retry reading (the query's real cost)
    # replaces it for the suite-total check too — otherwise one 45s noise
    # spike fails the total gate even after its own line is adjudicated.
    adj_total_delta = 0.0
    for name, sec in sorted(queries.items()):
        budget = max(FLOOR_SEC * box,
                     TYPICAL.get(name, DEFAULT_TYPICAL) * HEADROOM * box)
        if sec > budget:
            rsec = retry.get(name)
            if rsec is not None and rsec <= budget:
                # solo-retry adjudication (r12 task #1): Bench re-ran this
                # line solo at suite end and it came back within budget —
                # a mid-run noisy-neighbor window, not a plan regression
                # (a real regression is slow twice)
                noisy.append(f"NOISY {name}: {sec:.2f}s in-suite > budget "
                             f"{budget:.1f}s, but solo retry {rsec:.2f}s is "
                             f"within budget — adjudicated box noise")
                adj_total_delta += sec - rsec
            elif rsec is not None:
                failures.append(f"FAIL {name}: {sec:.2f}s > budget "
                                f"{budget:.1f}s AND solo retry {rsec:.2f}s "
                                f"still over (typical "
                                f"{TYPICAL.get(name, DEFAULT_TYPICAL):.1f}s"
                                f" x box {box:.2f}) — regression, not noise")
            else:
                failures.append(f"FAIL {name}: {sec:.2f}s > budget "
                                f"{budget:.1f}s (typical "
                                f"{TYPICAL.get(name, DEFAULT_TYPICAL):.1f}s"
                                f" x box {box:.2f})")
    if total is None:
        total = sum(queries.values())
    adj_total = total - adj_total_delta
    typ_total = sum(TYPICAL.get(n, DEFAULT_TYPICAL) for n in queries)
    total_budget = typ_total * TOTAL_HEADROOM * box
    if adj_total > total_budget:
        failures.append(f"FAIL total: {adj_total:.1f}s > budget "
                        f"{total_budget:.0f}s "
                        f"(typical {typ_total:.0f}s x box {box:.2f})")
    elif adj_total > typ_total * 1.3 * box:
        warns.append(f"WARN total: {adj_total:.1f}s above the observed "
                     f"same-code band ({typ_total * 1.3 * box:.0f}s; re-run "
                     f"before concluding)")

    for n in noisy:
        print(n)
    for w in warns:
        print(w)
    for f in failures:
        print(f)
    adj = (f" (adjudicated {adj_total:.1f}s after {len(noisy)} noisy "
           f"retries)") if noisy else ""
    print(f"== bench total {total:.1f}s{adj}, {len(queries)} queries, "
          f"box factor {box:.2f}, {len(failures)} over budget ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
