#!/usr/bin/env python3
"""Summarize alternating parent/change e2ebench pairs.

Usage: python3 summarize_pairs.py runs_<workload>.jsonl ...
Each line is {"side": "parent"|"change", "workload", "seed", "result"},
where "result" is the last stdout line of `e2ebench/run.py`. Prints, per
end-to-end metric, both medians, the parent's quartile distance and how
many pairs the change won.
"""
import json, sys, statistics as st
better={"throughput_per_s":"higher","latency_p50_ms":"lower","latency_tail_ms":"lower","setup_s":"lower"}
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
    for m,b in better.items():
        p=[by[s]["parent"]["metrics"][m]["value"] for s in seeds]
        c=[by[s]["change"]["metrics"][m]["value"] for s in seeds]
        q=st.quantiles(p,n=4); iqr=q[2]-q[0]
        wins=sum((cc>pp) if b=="higher" else (cc<pp) for pp,cc in zip(p,c))
        mp,mc=st.median(p),st.median(c)
        print(f"  {m:18s} parent median {mp:10.1f} change median {mc:10.1f} ({(mc-mp)/mp*100:+.1f}%), parent IQR {iqr:.1f}, change better in {wins}/{len(seeds)}")
