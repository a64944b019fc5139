"""Compare two sets of full results written by ``run.py``.

    python3 perfbench/compare.py BASE.json [...] -- NEW.json [...]

Each side is one or more result files of one workload (for example the
``perfbench/.work/results/<workload>-s<seed>-t0.json`` files of ten
seeds). For every metric in the results' JSON line and every named
metric, prints both medians and their ratio. Refuses (exit code 2) to
compare results drawn at different core counts, workloads or trace
modes, since the numbers of this repository move with the core count.
"""

from __future__ import annotations

import json
import statistics
import sys

STAMP_KEYS = ("workload", "trace", "nproc", "SPARK_GRAFT_CPUS", "master")


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _metrics(res: dict) -> dict[str, tuple[float, str]]:
    m = {k: (v["value"], v["unit"]) for k, v in res["result"]["metrics"].items()}
    m.update({k: tuple(v) for k, v in res["named"].items()})
    return m


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1:])
    if not base or not new:
        print("compare: each side needs at least one result", file=sys.stderr)
        return 2
    stamps = {tuple(r["env"].get(k) for k in STAMP_KEYS) for r in base + new}
    if len(stamps) != 1:
        print(
            "compare: refusing to compare results drawn under different "
            f"{'/'.join(STAMP_KEYS)}: {sorted(map(str, stamps))}",
            file=sys.stderr,
        )
        return 2
    names = sorted(set.intersection(*(set(_metrics(r)) for r in base + new)))
    print(f"{'metric':40s} {'unit':>8s} {'base':>12s} {'new':>12s} {'new/base':>9s}")
    for name in names:
        unit = _metrics(base[0])[name][1]
        b = statistics.median(_metrics(r)[name][0] for r in base)
        n = statistics.median(_metrics(r)[name][0] for r in new)
        ratio = f"{n / b:9.3f}" if b else "        -"
        print(f"{name:40s} {unit:>8s} {b:12.4g} {n:12.4g} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
