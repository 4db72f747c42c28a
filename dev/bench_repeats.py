#!/usr/bin/env python3
"""Parse graft.Bench stderr repeat lines into a JSON map
{name: {"repeats": [...], "min": m, "median": d,
        "sys_steal": [...], "minflt": [...], "majflt": [...]}}.

It reads the per-sample lines
  [bench-host] name: t@storm/minflt/majflt/cpuRatio ...
(seconds plus the host evidence of each sample).

The bench host is a VM that faults fresh 4 KiB pages at ~120 MB/s with
mmap_lock serialization (see build.sbt's heap-pinning comment) and takes
bursty co-tenant contention windows (sys/steal storms measured via
/proc/stat). Both noise sources are strictly ADDITIVE, so the MIN over
repeats is the consistent estimator of a query's steady plan cost; the
committed scale-curve ratios in BASELINE.md use min-of-repeats, with the
full repeat vectors AND per-sample host state recorded alongside so
every slow sample carries its own storm-or-not adjudication.

Usage: dev/bench_repeats.py <bench-stderr-file> [<out.json>]
"""
import json
import re
import statistics
import sys

HOST = re.compile(r'\[bench-host\] (\S+): (.+)$')
# sec@sysSteal/minflt/majflt[/cpuRatio] — cpuRatio (our process's
# cpu/wall for the window) added r13: low ratio on a slow sample =
# descheduled (co-tenant USER-cpu contention, invisible to sys+steal)
HOST_SAMPLE = re.compile(r'([0-9.]+)@([0-9.]+)/(\d+)/(\d+)(?:/([0-9.]+))?$')


def parse(path):
    # accumulate per name WITHIN a file too (r12 ADVICE): an appended
    # log with two bench sessions must not drop the earlier session's
    # samples — build_steady_artifact merges across files the same way
    host = {}
    for line in open(path):
        m = HOST.match(line.strip())
        if not m:
            continue
        h = host.setdefault(m.group(1),
                            {'sec': [], 'storm': [], 'minflt': [], 'majflt': [],
                             'cpu_ratio': []})
        for tok in m.group(2).split():
            s = HOST_SAMPLE.match(tok)
            if s:
                h['sec'].append(float(s.group(1)))
                h['storm'].append(float(s.group(2)))
                h['minflt'].append(int(s.group(3)))
                h['majflt'].append(int(s.group(4)))
                h['cpu_ratio'].append(float(s.group(5)) if s.group(5) else None)
    return {name: {'repeats': h['sec'],
                   'min': min(h['sec']),
                   'median': round(statistics.median(h['sec']), 3),
                   'sys_steal': h['storm'],
                   'minflt': h['minflt'],
                   'majflt': h['majflt'],
                   'cpu_ratio': h['cpu_ratio']}
            for name, h in sorted(host.items())}


if __name__ == '__main__':
    r = parse(sys.argv[1])
    js = json.dumps(r, indent=1, sort_keys=True)
    if len(sys.argv) > 2:
        open(sys.argv[2], 'w').write(js + '\n')
    print(js)
