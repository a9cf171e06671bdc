#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py        (from the root of the checkout)

Runs each workload once, keeps its outputs, and feeds every checker a
copy corrupted on purpose: one changed text, one dropped row, one wrong
oracle hash, one empty loss span, and (inside the JVM, for parse_pages)
a changed extraction, a dropped token, a missing planted sentence and a
shifted span. Each corruption must be reported; the clean outputs must
pass. Exits 1 if any checker misses its corruption.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402


def keep_run(workload, dest):
    shutil.rmtree(dest, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "7", "--seconds", "1", "--keep", dest],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(dest, "result.json")) as fh:
        res = json.load(fh)
    old = os.path.dirname(res["info"]["out_dir"])
    for k, v in res["info"].items():
        if v.startswith(old):
            res["info"][k] = dest + v[len(old):]
    return res


def corrupt(path, edit):
    """Rewrites one parquet file through `edit` (a pyarrow table -> table);
    returns a function that restores it."""
    saved = path + ".orig"
    shutil.copy(path, saved)
    pq.write_table(edit(pq.read_table(path)), path)
    return lambda: shutil.move(saved, path)


def set_first(table, column, value):
    col = table.column(column).to_pylist()
    col[0] = value(col[0])
    i = table.schema.get_field_index(column)
    return table.set_column(i, column, pa.array(col, type=table.schema.field(i).type))


def expect(results, name, found, key=None):
    """`found` must name a failure starting with `key`, or be empty if no key."""
    ok = any(k.startswith(key) for k in found) if key else not found
    results.append((name, ok))
    print(f"{'PASS' if ok else 'MISS'} {name}: {found if found else 'nothing reported'}")


def main():
    base = os.path.join(run.TMP, f"selftest-{os.getpid()}")
    results = []
    try:
        d = os.path.join(base, "batch_curation")
        res = keep_run("batch_curation", d)
        expect(results, "batch_curation clean", checks.check("batch_curation", res, run.SF_DIR, d))

        # the production batch
        f = sorted(glob.glob(os.path.join(res["info"]["out_dir"], "extracted", "*", "*.parquet")))[0]
        undo = corrupt(f, lambda t: set_first(t, "extracted_text", lambda s: s + " changed"))
        expect(results, "batch changed text", checks.extract_batch(res, run.SF_DIR, d), "text")
        undo()
        undo = corrupt(f, lambda t: t.slice(1))
        expect(results, "batch dropped row", checks.extract_batch(res, run.SF_DIR, d), "rows")
        undo()

        # the curation compositions
        out, sf = res["info"]["curation_out_dir"], res["info"]["check_sf"]
        f = sorted(glob.glob(os.path.join(out, "q_dedup_corpus", "*.parquet")))
        f = [x for x in f if pq.read_metadata(x).num_rows > 0][0]
        undo = corrupt(f, lambda t: set_first(t, "text", lambda s: s + " x"))
        expect(results, "curation wrong oracle hash", checks.oracle(out, sf, d), "oracle.q_dedup_corpus")
        undo()
        f = sorted(glob.glob(os.path.join(out, "q_masked_pipeline", "*.parquet")))
        f = [x for x in f if pq.read_metadata(x).num_rows > 0][0]
        start = pq.read_table(f).column("span_start").to_pylist()[0]
        undo = corrupt(f, lambda t: set_first(t, "span_end", lambda _: start))
        expect(results, "curation empty loss span", checks.masked(out, sf, d), "masked.spans")
        undo()

        # parse_pages: its checkers live in the JVM
        cp = run.build()
        work = run.new_work_dir()
        res, _ = run.run_jvm(cp, "parse_pages", work, 7, 1, 0, extra=["--selftest", "1"])
        for name, why in res["checks"].items():
            results.append((f"parse_pages {name}", not why))
            print(f"{'PASS' if not why else 'MISS'} parse_pages {name}{': ' + why if why else ''}")
    finally:
        run.cleanup()
        shutil.rmtree(base, ignore_errors=True)
    missed = [n for n, ok in results if not ok]
    print(f"{len(results) - len(missed)}/{len(results)} self-test cases pass")
    sys.exit(1 if missed else 0)


if __name__ == "__main__":
    main()
