"""Compare benchmark artifacts of two code versions, medians side by side.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Artifacts are the files run.py keeps under .bench_build/perfbench/results/.
All artifacts must come from one host (nproc, heap, JVM, Spark, Hadoop,
OS) and one workload and trace mode: a wall-clock ratio across hosts
means nothing, so the comparison is refused instead.
"""

import json
import statistics
import sys

HOST_KEYS = ("nproc", "heap_max_mb", "jvm", "spark", "hadoop", "os")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        sys.exit(__doc__)
    arts = base + new
    hosts = {tuple(a["host"][k] for k in HOST_KEYS) for a in arts}
    if len(hosts) > 1:
        sys.exit("refused: artifacts come from different hosts: %s" % sorted(hosts))
    kinds = {(a["workload"], bool(a["trace"])) for a in arts}
    if len(kinds) > 1:
        sys.exit("refused: artifacts mix workloads or trace modes: %s" % sorted(kinds))
    key = "per_layer" if arts[0]["trace"] else "end_to_end"
    print("%s, %d base runs vs %d new runs, host %s" % (
        arts[0]["workload"], len(base), len(new), dict(zip(HOST_KEYS, hosts.pop()))))
    print("%-40s %14s %14s %8s" % ("metric", "base median", "new median", "new/base"))
    for m in sorted(base[0][key]):
        b = statistics.median(a[key][m] for a in base)
        n = statistics.median(a[key][m] for a in new)
        ratio = "%8.3f" % (n / b) if b else "       -"
        print("%-40s %14.4f %14.4f %s" % (m, b, n, ratio))


if __name__ == "__main__":
    main(sys.argv[1:])
