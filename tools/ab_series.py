"""Paired A/B series under the isolate protocol: two arms, order-ALTERNATING
paired rounds, a fresh JVM per run (``bench.py --isolate --n 3 --canary``).

An arm is either
  - an env assignment ``NAME=VALUE`` applied to ``--query`` (``NAME=``
    with an empty value unsets NAME, i.e. the shipped default), or
  - a registered query name (e.g. a production query vs its
    alternate-layout twin over the same sf_dir).

Protocol per CLAUDE.md measurement rules: settle to 1-min load < 0.5
before each arm (proceeds after 900 s regardless — don't run other work
concurrently), alternate which arm runs first each round (the r11
reversed-order control measured a ~10-20% second-arm penalty), and cite
the whole series, never a single round. Each run carries its canary
probes (bench.py --canary: a fresh-JVM q6 probe before the measurement,
settle+retry when it reads >20% above the series' best probe); a run
whose last probe is still hot is weather, not evidence.

Usage: python tools/ab_series.py SF_DIR ARM_A ARM_B --out OUT.json
       [--query QUERY] [--rounds 4] [--key KEY]
Examples:
  python tools/ab_series.py .scratch/sf10 tpch_q5 tpch_q5_bucketed \\
      --out ISOLATE_r20.json
  python tools/ab_series.py .scratch/sf1 PYCAIM_SIM_LSH_TABLES= \\
      PYCAIM_SIM_LSH_TABLES=24 --query sim_lsh_bucketed --out ISOLATE_r20.json
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Best (minimum) canary observed across the whole series — passed to
#: each bench.py invocation as $PYCAIM_CANARY_REF so the drift gate
#: compares against the series' best box state, not each invocation's own
#: first probe.
_CANARY_MIN: list[float] = []


def settle(limit=0.5, max_wait=900):
    waited = 0
    while os.getloadavg()[0] > limit and waited < max_wait:
        time.sleep(30)
        waited += 30
    print("load at start:", os.getloadavg(), flush=True)


def parse_arm(arm: str, query: str | None) -> tuple[str, dict[str, str | None]]:
    """(query to run, env overrides) for one arm spec; None unsets."""
    if "=" not in arm:
        return arm, {}
    if query is None:
        raise SystemExit(f"env arm {arm!r} needs --query")
    name, value = arm.split("=", 1)
    return query, {name: value or None}


def run_one(query: str, sf_dir: str, overrides: dict[str, str | None]):
    """Returns (median_sec, canary_probes) for one fresh-JVM run."""
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "PYCAIM_ISOLATE_TIMEOUT": "1800",
        # This harness settles itself (settle() before each arm); skip
        # bench.py's own settle gate so the series cadence is unchanged.
        "PYCAIM_BENCH_NO_SETTLE": "1",
    }
    if _CANARY_MIN:
        env["PYCAIM_CANARY_REF"] = str(_CANARY_MIN[0])
    for name, value in overrides.items():
        if value is None:
            env.pop(name, None)
        else:
            env[name] = value
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"),
         "--isolate", query, "--n", "3", "--canary"],
        capture_output=True, text=True, timeout=3600, env=env,
    )
    line = p.stdout.strip().rsplit("\n", 1)[-1]
    payload = json.loads(line)
    canary = (payload.get("canary") or {}).get(query)
    if canary:
        _CANARY_MIN[:] = [min(canary + _CANARY_MIN)]
    sec = payload["queries"].get(query)
    if sec is None:
        print(f"MISSING {query} ({overrides}); bench stderr tail:\n"
              f"{p.stderr[-4000:]}", flush=True)
    return sec, canary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("arm_a")
    ap.add_argument("arm_b")
    ap.add_argument("--out", required=True,
                    help="JSON to merge the series into")
    ap.add_argument("--query", help="query the env-assignment arms run")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--key", help="series key (default derived from the arms)")
    args = ap.parse_args()
    arms = {a: parse_arm(a, args.query) for a in (args.arm_a, args.arm_b)}
    key = args.key or (
        f"{args.query + '_' if args.query else ''}"
        f"{args.arm_a}_vs_{args.arm_b}_paired_series".lower().replace("=", "_")
    )

    series = []
    for i in range(args.rounds):
        order = [args.arm_a, args.arm_b]
        if i % 2:
            order.reverse()
        result = {"round": i, "order": order}
        for arm in order:
            settle()
            query, overrides = arms[arm]
            sec, canary = run_one(query, args.sf_dir, overrides)
            result[arm] = sec
            result[f"{arm}_canary"] = canary
        series.append(result)
        print(series[-1], flush=True)
    merged = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            merged = json.load(f)
    merged[key] = {
        "note": (
            f"A/B {args.arm_a} vs {args.arm_b}"
            f"{' on ' + args.query if args.query else ''} (an empty env "
            "value = unset/shipped default): order-alternating paired "
            "rounds (each round's `order` records which arm ran first), "
            "fresh JVM per run (bench.py --isolate --n 3 --canary). "
            "Per-run `*_canary` lists the fresh-JVM q6 probes taken "
            "before that measurement; a last probe >20% above the series "
            "minimum marks the run decay-suspect."
        ),
        "sf_dir": args.sf_dir,
        "canary_min": (_CANARY_MIN[0] if _CANARY_MIN else None),
        "series": series,
    }
    with open(args.out, "w") as f:
        json.dump(merged, f, indent=2)
    print("wrote", args.out)


if __name__ == "__main__":
    main()
