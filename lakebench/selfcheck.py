"""Self-checks of the benchmark itself (python3 lakebench/run.py --selfcheck):

1. the generators are pure functions of the seed: the same seed writes
   byte-identical inputs and planted truth, a different seed does not;
2. each output check catches a deliberately corrupted output: one DWS row
   dropped before the ETL checks, one served row altered behind the
   serving model's back. Each corrupted run must report failed > 0.
"""
import hashlib
import os
import shutil

import build
import run


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if f.startswith(".") or f.endswith(".crc"):
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(classes, workload, seed):
    work = run.work_dir()
    try:
        out = os.path.join(work, "inputs")
        args = ["--mode", "gen", "--workload", workload, "--seed", str(seed),
                "--work", out]
        run.run_jvm(classes, work, args, os.path.join(work, "jvm.log"),
                    expect_result=False)
        return tree_digest(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def corrupted(classes, workload, seed, kind):
    work = run.work_dir()
    try:
        args = ["--mode", "run", "--workload", workload, "--seed", str(seed),
                "--seconds", "4", "--trace", "0", "--work", work, "--corrupt", kind]
        result, _ = run.run_jvm(classes, work, args, os.path.join(work, "jvm.log"),
                                quiet=True)
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    classes = build.build()
    ok = True
    for w in ("lakehouse_etl", "curation", "lake_serve"):
        a, b, c = generate(classes, w, 11), generate(classes, w, 11), generate(classes, w, 12)
        same, differ = a == b, a != c
        print("inputs %-8s same seed identical: %s, other seed differs: %s" % (w, same, differ))
        ok &= same and differ
    for w, kind in (("lakehouse_etl", "dws_drop"), ("lake_serve", "serve_alter")):
        r = corrupted(classes, w, 13, kind)
        caught = r["failed"] > 0 and not r["correct"]
        print("corruption %-11s caught: %s (failed %d of %d)"
              % (kind, caught, r["failed"], r["attempted"]))
        ok &= caught
    print("selfcheck " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1
