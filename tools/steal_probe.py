#!/usr/bin/env python3
"""Measure hypervisor CPU steal under sustained full-width load.

Quiet-bench precondition check (r18 lesson): short probes escape
steal entirely (bursts run at full speed), so a flat canary on an
idle machine does NOT guarantee a clean sustained run. Run this
first; steal above ~5% means quiet-bench medians will be inflated
fleet-wide and per-query regressions cannot be read.
"""
import os, subprocess, sys

def cpu():
    return list(map(int, open('/proc/stat').readline().split()[1:]))

secs = int(sys.argv[1]) if len(sys.argv) > 1 else 15
a = cpu()
procs = [subprocess.Popen(['python3', '-c',
    f'import time\nt=time.time()\nwhile time.time()-t < {secs}: pass'])
    for _ in range(os.cpu_count())]
for p in procs: p.wait()
b = cpu()
d = [y - x for x, y in zip(a, b)]
tot = sum(d)
names = ['user','nice','system','idle','iowait','irq','softirq','steal']
for n, v in zip(names, d):
    if v: print(f"{n}: {v/tot*100:.2f}%")
