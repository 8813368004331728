#!/usr/bin/env python3
"""Summarize alternating parent/change e2ebench pairs.

Usage: python3 scripts/summarize_pairs.py runs_<workload>.jsonl ...
Each line is {"side": "parent"|"change", "workload", "seed", "result"},
where "result" is the last stdout line of `e2ebench/run.py`. Prints, per
end-to-end metric of BENCHMARK.json (at the repo root): both medians, the
parent's quartile distance, how many pairs the change won, whether the
pair-win rule for a gain holds (the change wins at least 9 of 10 pairs
and the median gap exceeds the parent's quartile distance) and whether
the metric's `bound` is held (the change's median is worse than the
parent's by at most that fraction).
"""
import json, pathlib, sys, statistics as st

bench = json.loads((pathlib.Path(__file__).resolve().parent.parent
                    / "BENCHMARK.json").read_text())
metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
for path in sys.argv[1:]:
    rows=[json.loads(l) for l in open(path)]
    w=rows[0]["workload"]
    by={}
    for r in rows: by.setdefault(r["seed"],{})[r["side"]]=r["result"]
    seeds=sorted(s for s in by if len(by[s])==2)
    fails={side:sum(by[s][side]["failed"] for s in seeds) for side in ("parent","change")}
    att={side:sum(by[s][side]["attempted"] for s in seeds) for side in ("parent","change")}
    corr=all(by[s][side]["correct"] for s in seeds for side in ("parent","change"))
    print(f"{w}: {len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]}), all correct={corr}, failed parent {fails['parent']}/{att['parent']} change {fails['change']}/{att['change']}")
    for m,b,bound in metrics:
        p=[by[s]["parent"]["metrics"][m]["value"] for s in seeds]
        c=[by[s]["change"]["metrics"][m]["value"] for s in seeds]
        q=st.quantiles(p,n=4); iqr=q[2]-q[0]
        wins=sum((cc>pp) if b=="higher" else (cc<pp) for pp,cc in zip(p,c))
        mp,mc=st.median(p),st.median(c)
        gain=(mc-mp) if b=="higher" else (mp-mc)
        rule=wins*10>=9*len(seeds) and gain>iqr
        held=mc>=mp*(1-bound) if b=="higher" else mc<=mp*(1+bound)
        print(f"  {m:18s} parent median {mp:10.1f} change median {mc:10.1f} ({(mc-mp)/mp*100:+.1f}%), parent IQR {iqr:.1f}, change better in {wins}/{len(seeds)}, "
              f"pair-win rule {'holds' if rule else 'not met'}, bound {bound:.2f} {'held' if held else 'BROKEN'}")
