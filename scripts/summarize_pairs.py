#!/usr/bin/env python3
"""Summarize alternating e2ebench pairs: parent/change, or A/A.

Usage: python3 scripts/summarize_pairs.py runs_<workload>.jsonl ...
Each line is {"side", "workload", "seed", "result"}, where "result" is the
last stdout line of `e2ebench/run.py`.

Sides "parent" and "change": prints, per end-to-end metric of
BENCHMARK.json (at the repo root), both medians, the parent's quartile
distance, how many pairs the change won, whether the pair-win rule for a
gain holds (the change wins at least 9 of 10 pairs and the median gap
exceeds the parent's quartile distance) and whether the metric's `bound`
is held (the change's median is worse than the parent's by at most that
fraction).

Any other two side labels (say "A" and "B") mean an A/A file: one export
ran as both sides. Then it prints, per metric, each side's median and
IQR/median, how many pairs side B won, and whether the pair-win rule or
the bound would have fired; on identical code either firing is false.
"""
import json, pathlib, sys, statistics as st

bench = json.loads((pathlib.Path(__file__).resolve().parent.parent
                    / "BENCHMARK.json").read_text())
metrics = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
for path in sys.argv[1:]:
    rows=[json.loads(l) for l in open(path)]
    w=rows[0]["workload"]
    labels=sorted({r["side"] for r in rows})
    aa=labels!=["change","parent"]
    a,b=labels if aa else ("parent","change")
    by={}
    for r in rows: by.setdefault(r["seed"],{})[r["side"]]=r["result"]
    seeds=sorted(s for s in by if len(by[s])==2)
    fails={side:sum(by[s][side]["failed"] for s in seeds) for side in (a,b)}
    att={side:sum(by[s][side]["attempted"] for s in seeds) for side in (a,b)}
    corr=all(by[s][side]["correct"] for s in seeds for side in (a,b))
    print(f"{w}{' A/A' if aa else ''}: {len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]}), all correct={corr}, failed {a} {fails[a]}/{att[a]} {b} {fails[b]}/{att[b]}")
    for m,better,bound in metrics:
        p=[by[s][a]["metrics"][m]["value"] for s in seeds]
        c=[by[s][b]["metrics"][m]["value"] for s in seeds]
        qp=st.quantiles(p,n=4); iqr=qp[2]-qp[0]
        qc=st.quantiles(c,n=4)
        wins=sum((cc>pp) if better=="higher" else (cc<pp) for pp,cc in zip(p,c))
        mp,mc=st.median(p),st.median(c)
        gain=(mc-mp) if better=="higher" else (mp-mc)
        rule=wins*10>=9*len(seeds) and gain>iqr
        held=mc>=mp*(1-bound) if better=="higher" else mc<=mp*(1+bound)
        if aa:
            print(f"  {m:18s} {a} median {mp:10.1f} (IQR/median {iqr/mp:.3f}), {b} median {mc:10.1f} (IQR/median {(qc[2]-qc[0])/mc:.3f}), "
                  f"{b} better in {wins}/{len(seeds)}, pair-win rule {'FIRES FALSELY' if rule else 'quiet'}, "
                  f"bound {bound:.2f} {'held' if held else 'FIRES FALSELY'}")
        else:
            print(f"  {m:18s} parent median {mp:10.1f} change median {mc:10.1f} ({(mc-mp)/mp*100:+.1f}%), parent IQR {iqr:.1f}, change better in {wins}/{len(seeds)}, "
                  f"pair-win rule {'holds' if rule else 'not met'}, bound {bound:.2f} {'held' if held else 'BROKEN'}")
