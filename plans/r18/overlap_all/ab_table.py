#!/usr/bin/env python3
"""Markdown table of a parent/change perfbench A/B.

Usage: ab_table.py <runs.jsonl>...

Each input line is one run: side, workload, seed, exit code, the JSON
result `perfbench/run.py` printed last, and the lines it printed before
it (`stdout`). The raw latency medians (`diag_ms`, `commit_ms`,
`read_ms`), the raw set-up and the host probe are read from those lines.
"""
import json,statistics as st,re,sys
rs=[json.loads(l) for f in sys.argv[1:] for l in open(f)]
assert all(r['rc']==0 and r['result'].get('failed')==0 for r in rs)
def raw(r):
    d={}
    for l in r.get('stdout', []):
        m=re.match(r'  (diag_ms|commit_ms|read_ms)\.p50 = ([\d.]+) ms',l)
        if m: d['raw.'+m.group(1)+'.p50']=float(m.group(2))
        m=re.search(r'raw set-up ([\d.]+) s',l)
        if m: d['raw.setup_s']=float(m.group(1))
        m=re.search(r'probe = ([\d.]+) ms',l)
        if m: d['host.calib_ms']=float(m.group(1))
    return d
print("| workload | metric | pairs | parent median | change median | change vs parent | pairs change better | parent IQR |")
print("|---|---|---|---|---|---|---|---|")
for w in ['catalog_diag','deep_table_diag','append_mix','mor_read']:
  P=sorted([r for r in rs if r['workload']==w and r['side']=='parent'],key=lambda r:r['seed'])
  C=sorted([r for r in rs if r['workload']==w and r['side']=='change'],key=lambda r:r['seed'])
  if not P: continue
  assert [r['seed'] for r in P]==[r['seed'] for r in C]
  keys=['setup_s','op_ref_ms.p50','work_per_ref_s','peak_rss_mb']
  rk=sorted(set(k for r in P for k in raw(r)))
  for m in keys+rk:
    g=(lambda r:r['result']['metrics'][m]['value']) if m in keys else (lambda r:raw(r).get(m))
    p=[g(r) for r in P]; c=[g(r) for r in C]
    hi = m=='work_per_ref_s'
    better=sum((ci>pi) if hi else (ci<pi) for pi,ci in zip(p,c))
    q=st.quantiles(p,n=4)
    mp,mc=st.median(p),st.median(c)
    print(f"| {w} | {m} | {len(p)} | {mp:.2f} | {mc:.2f} | {100*(mc-mp)/mp:+.1f}% | {better}/{len(p)} | {q[2]-q[0]:.2f} |")
