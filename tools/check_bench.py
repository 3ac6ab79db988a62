#!/usr/bin/env python3
"""Auto-adjudicate bench deltas: noise vs regression (r16 verdict #3).

Wall-clock on a shared box is noisy; the deterministic plan
invariants the artifact already carries are not. For every key in
both artifacts this classifies a wall-time jump:

  - REGRESSION: wall jumped AND a plan invariant moved
    (shuffle_bytes [fetch, write] or fixpoint_steps differ) — the
    plan itself changed, the number is real. Exit 1.
    fixpoint_steps is {key: {tag: steps}}, so a move in any loop a key
    runs counts. Against an older flat {tag: steps} artifact every key
    with steps reads "steps moved" (the conservative direction).
  - NOISE: wall jumped but shuffle bytes AND step counts are
    byte-identical — the same plan ran slower on a loaded box.
    Reported, exit 0 (this is the manual cross-check the r16 judge
    performed on t32/t33/t30/..., automated).
  - UNSTABLE: telemetry identical but the new run's own WARM reps
    spread by more than SPREAD_GATE (max/min after dropping the cold
    first rep, -1 failures excluded) — the number shouldn't be
    trusted in either direction.

  REGRESSION is classified BEFORE UNSTABLE (r17 ADVICE): telemetry
  movement always exits 1 — a wild warm spread on a key whose plan
  invariants moved is a flag to re-measure in isolation, never a
  reason to wave the movement through. And the spread is computed
  over the warm reps only: the protocol discards the cold first rep,
  so a 3.5x cold/warm ratio (plan codegen + JIT) is expected, not
  instability (r19's artifact flagged 10 keys on exactly that).

Usage: check_bench.py NEW.json [OLD.json]
  With no OLD, only the variance report runs. Keys only in one
  artifact are listed as added/removed, never adjudicated.

Writes a JSON summary next to NEW as <NEW stem>_delta.json with
per-key {old, new, ratio, verdict} plus min/median/max variance rows,
so the round notes can cite machine-checked numbers instead of a
hand-run shuffle-byte diff.
"""
import json
import statistics
import sys

WALL_GATE = 1.5     # new_min / old_min above this is "a jump"
WALL_FLOOR = 0.3    # seconds — ignore jumps on sub-noise-floor keys
SPREAD_GATE = 3.0   # warm-rep max/min above this is "unstable"


def load(path):
    with open(path) as f:
        txt = f.read()
    # artifact files hold the one-line JSON (possibly with a trailing
    # compact headline line — take the first line that parses with raw)
    for line in txt.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        d = json.loads(line)
        if "raw" in d:
            return d
    raise SystemExit(f"{path}: no full artifact line (with 'raw') found")


def variance_rows(art):
    rows = {}
    for k, reps in sorted(art.get("raw", {}).items()):
        ok = [r for r in reps if r >= 0]
        if not ok:
            rows[k] = {"min": -1.0, "median": -1.0, "max": -1.0,
                       "spread": -1.0, "unstable": True}
            continue
        # the reported value is min-of-WARM; judge spread on the same
        # population — the cold first rep pays codegen + JIT and its
        # inclusion flagged 10/256 keys as unstable in r19 (ADVICE)
        warm = ok[1:] if len(ok) > 1 else ok
        mn, md, mx = min(warm), statistics.median(warm), max(warm)
        spread = (mx / mn) if mn > 0 else float("inf")
        rows[k] = {"min": round(mn, 3), "median": round(md, 3),
                   "max": round(mx, 3), "cold": round(ok[0], 3),
                   "spread": round(spread, 2),
                   "unstable": len(warm) > 1 and spread > SPREAD_GATE}
    return rows


def selftest():
    """Prove the adjudicator can produce each verdict (check_oracle's
    --selftest discipline: a gate that can't reject proves nothing)."""
    import tempfile
    keys = ("noise", "reg", "regyuns", "uns", "cold", "ok",
            "stepmv", "stepsame")
    old = {"queries": {k: 1.0 for k in keys},
           "raw": {k: [1.0] for k in keys},
           "shuffle_bytes": {k: [1000, 1000] for k in keys},
           "fixpoint_steps": {"stepmv": {"g15_pass1": 6, "g15_pass2": 9},
                              "stepsame": {"g20_scc": 4, "g20_scc_rounds": 2}}}
    new = {"queries": {"noise": 2.0, "reg": 2.0, "regyuns": 2.0,
                       "uns": 2.0, "cold": 2.0, "ok": 1.01,
                       "stepmv": 2.0, "stepsame": 2.0},
           # regyuns: telemetry moved AND warm spread 4x -> REGRESSION
           #   (not acquitted by instability — the r17 ADVICE case);
           # uns: telemetry same, warm spread 4x -> UNSTABLE;
           # cold: telemetry same, 9 s COLD rep but stable warm reps
           #   -> NOISE, and its variance row must not read unstable;
           # noise: +0.5% bytes (within 1%); reg: +50% -> REGRESSION
           # stepmv: one sub-tag of the key moved -> REGRESSION;
           # stepsame: identical nested steps -> NOISE
           "raw": {"noise": [2.0, 2.0], "reg": [2.0, 2.0],
                   "regyuns": [2.0, 2.0, 8.0], "uns": [2.0, 2.0, 8.0],
                   "cold": [9.0, 2.0, 2.0], "ok": [1.01],
                   "stepmv": [2.0, 2.0], "stepsame": [2.0, 2.0]},
           "shuffle_bytes": {"noise": [1005, 1005], "reg": [1500, 1500],
                             "regyuns": [1500, 1500], "uns": [1000, 1000],
                             "cold": [1000, 1000], "ok": [1000, 1000],
                             "stepmv": [1000, 1000],
                             "stepsame": [1000, 1000]},
           "fixpoint_steps": {"stepmv": {"g15_pass1": 6, "g15_pass2": 10},
                              "stepsame": {"g20_scc": 4, "g20_scc_rounds": 2}}}
    d = tempfile.mkdtemp()
    for nm, art in [("old", old), ("new", new)]:
        with open(f"{d}/{nm}.json", "w") as f:
            json.dump(art, f)
    sys.argv = ["check_bench.py", f"{d}/new.json", f"{d}/old.json"]
    try:
        main()
    except SystemExit as e:
        assert e.code == 1, f"regression must exit 1, got {e.code}"
    out = json.load(open(f"{d}/new_delta.json"))
    v = {k: out["deltas"][k].get("verdict") for k in keys}
    assert v == {"noise": "NOISE", "reg": "REGRESSION",
                 "regyuns": "REGRESSION", "uns": "UNSTABLE",
                 "cold": "NOISE", "ok": None, "stepmv": "REGRESSION",
                 "stepsame": "NOISE"}, f"verdicts wrong: {v}"
    assert out["deltas"]["regyuns"].get("warm_unstable") is True, \
        "regression on unstable warm reps must carry the context flag"
    assert not out["variance"]["cold"]["unstable"], \
        "cold first rep must not count toward warm spread"
    assert out["variance"]["cold"]["spread"] == 1.0, \
        f"cold warm spread wrong: {out['variance']['cold']}"
    print("[bench-check] selftest OK (noise/regression/regression-"
          "over-unstable/unstable/cold-rep/quiet/step-move/same-steps "
          "all classified)")


def main():
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    if sys.argv[1] == "--selftest":
        selftest()
        return
    new = load(sys.argv[1])
    var = variance_rows(new)
    out = {"variance": var, "deltas": {}, "added": [], "removed": [],
           "regressions": [], "noise": []}
    if len(sys.argv) > 2:
        old = load(sys.argv[2])
        nq, oq = new.get("queries", {}), old.get("queries", {})
        out["added"] = sorted(set(nq) - set(oq))
        out["removed"] = sorted(set(oq) - set(nq))
        nsb, osb = new.get("shuffle_bytes", {}), old.get("shuffle_bytes", {})
        nfp, ofp = new.get("fixpoint_steps", {}), old.get("fixpoint_steps", {})
        def same_bytes(a, b):
            # byte-identical proves the same plan ran; sub-1% deltas
            # are shuffle-block metadata jitter (e4 moved 255 bytes of
            # 7.2 MB between identical plans), not a plan change
            if a == b:
                return True
            if not a or not b or len(a) != len(b):
                return False
            return all(abs(x - y) <= 0.01 * max(abs(x), abs(y), 1)
                       for x, y in zip(a, b))
        for k in sorted(set(nq) & set(oq)):
            o, n = oq[k], nq[k]
            if o <= 0 or n <= 0:
                continue
            ratio = n / o
            entry = {"old": o, "new": n, "ratio": round(ratio, 2)}
            if n >= WALL_FLOOR and ratio > WALL_GATE:
                same_shuffle = same_bytes(nsb.get(k), osb.get(k))
                same_steps = nfp.get(k) == ofp.get(k)
                # REGRESSION outranks UNSTABLE (r17 ADVICE): telemetry
                # movement always exits 1; warm-spread instability is
                # attached as context, not used to acquit
                if not (same_shuffle and same_steps):
                    entry["verdict"] = "REGRESSION"
                    entry["shuffle_old"] = osb.get(k)
                    entry["shuffle_new"] = nsb.get(k)
                    entry["steps_old"] = ofp.get(k)
                    entry["steps_new"] = nfp.get(k)
                    if var.get(k, {}).get("unstable"):
                        entry["warm_unstable"] = True
                    out["regressions"].append(k)
                elif var.get(k, {}).get("unstable"):
                    entry["verdict"] = "UNSTABLE"
                else:
                    entry["verdict"] = "NOISE"
                    out["noise"].append(k)
            out["deltas"][k] = entry
    dest = sys.argv[1].rsplit(".json", 1)[0] + "_delta.json"
    with open(dest, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    unstable = sorted(k for k, v in var.items() if v["unstable"])
    print(f"[bench-check] {len(var)} keys; "
          f"unstable {len(unstable)}: {', '.join(unstable) or '-'}")
    if len(sys.argv) > 2:
        print(f"[bench-check] added {len(out['added'])}, "
              f"removed {len(out['removed'])}, "
              f"noise {len(out['noise'])}: {', '.join(out['noise']) or '-'}")
        for k in out["regressions"]:
            d = out["deltas"][k]
            print(f"[bench-check] REGRESSION {k}: {d['old']} -> {d['new']} "
                  f"({d['ratio']}x) shuffle {d['shuffle_old']} -> "
                  f"{d['shuffle_new']} steps {d['steps_old']} -> "
                  f"{d['steps_new']}")
        if out["regressions"]:
            sys.exit(1)
    print(f"[bench-check] summary written to {dest}")


if __name__ == "__main__":
    main()
