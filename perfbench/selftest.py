"""Generator self-test: the same seed gives byte-identical input files,
and a different seed gives different ones.

Usage (from the repository root)::

    python3 perfbench/selftest.py [--seed N]

Prepares every workload's inputs three times — seed N twice, seed N+1
once — and compares a sha256 over each set of generated files. Exits 1
on any violation.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def files_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode("utf-8"))
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    seed = p.parse_args().seed
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    ok = True
    try:
        makers = {
            name: (lambda cls: lambda s, d: cls().prepare(s, d))(WORKLOADS[name])
            for name in ("envelope_ingest", "container_read")
        }
        makers["corpus"] = lambda s, d: gen.write_corpus(gen.corpus(s, 3_000), d, 4)
        for name, make in makers.items():
            digests = []
            for run, s in enumerate((seed, seed, seed + 1)):
                d = os.path.join(work, f"{name}-{run}")
                os.makedirs(d)
                make(s, d)
                digests.append(files_digest(d))
            same, differs = digests[0] == digests[1], digests[0] != digests[2]
            ok &= same and differs
            print(f"{name}: seed {seed} repeat identical={same}, seed {seed + 1} differs={differs}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
