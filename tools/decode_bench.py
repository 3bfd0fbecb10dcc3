#!/usr/bin/env python3
"""Decode the front-coded "qs" field of the r6-r15 bench records.

Usage: decode_bench.py BENCH_r07.json

Reads the compact line from either form of record:
  - a run record (BENCH_rNN.json): one JSON object whose "parsed" field
    holds the compact line;
  - a compact line on its own (BENCH_local_rNN.json), or as the last line
    of a log, after any prefix.
Exits non-zero, naming the file, when no "qs" field is found (the r16+
line carries a plain "queries" map instead, which needs no decoding).
Tolerates a tail-truncated front — entries before the first fully-contained
one are dropped, matching the driver's stdout capture.

Entry format: B36(L) + suffix + ":" + value, where L is the number of
leading chars shared with the PREVIOUS entry's name (name = prev[:L] +
suffix); values are integers in the line's "q_unit" (cs = centiseconds,
ds = deciseconds; negative = failed run). Every 16th entry is a restart
point (L = 0, full name), so a head-truncated capture loses at most the
entries before the next restart.
"""
import json, sys

B36 = "0123456789abcdefghijklmnopqrstuvwxyz"


def decode(qs: str, unit: str) -> dict:
    div = {"cs": 100.0, "ds": 10.0}[unit]
    prev, out = None, {}  # prev=None: out of sync until a restart (L=0) entry
    for e in qs.split(","):
        cut = e.rfind(":")
        l = B36.find(e[0]) if e else -1
        if (cut < 1 or l < 0 or (prev is None and l > 0)
                or (prev is not None and l > len(prev))
                or not e[cut + 1:].lstrip("-").isdigit()):
            continue  # orphaned/malformed fragment from a truncated head
        name = ("" if l == 0 else prev[:l]) + e[1:cut]
        if not name:  # a truncated fragment can masquerade as "0:<v>"
            continue
        out[name] = int(e[cut + 1:]) / div
        prev = name
    return out


def compact_line(text: str) -> dict:
    """The compact-line object of a run record, a bare line, or a log tail."""
    try:
        d = json.loads(text)
    except ValueError:
        line = (text.strip().splitlines() or [""])[-1]
        try:  # index() and a malformed line both raise ValueError
            d = json.loads(line[line.index("{"):])
        except ValueError:
            d = {}
    if isinstance(d, dict) and "qs" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    return d if isinstance(d, dict) else {}


if __name__ == "__main__":
    path = sys.argv[1]
    d = compact_line(open(path).read())
    if not isinstance(d.get("qs"), str):
        sys.exit(f"decode_bench: no \"qs\" field in {path}")
    q = decode(d["qs"], d.get("q_unit", "cs"))
    print(json.dumps({**{k: v for k, v in d.items() if k != "qs"}, "queries": q},
                     indent=None, sort_keys=True))
