"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py          # all checks (runs the benchmark)
    python3 perfbench/selftest.py --fast   # only the checks that need no JVM

Fast checks: the report-input generator is byte-stable for a fixed seed and
matches the sizes recorded in workloads.json; the expected-table model
reproduces the repo's golden demo figures; the order statistics are right on
known samples; the traced run's output comparison notices a changed file; a
--seconds whose passes cannot end in time is refused.

Full run, in addition: every workload, untraced and traced, prints every
metric BENCHMARK.json names, with its unit, and is correct. A traced run is
correct only if the traced copy of RunReports' per-entity path produced the
same outputs and the same number of Spark jobs as `RunReports.run`.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# sizes and a SHA-256 of the daily-fleet layout for seed 0, recorded so that
# a change to the generator's output has to be made on purpose
RECORDED = os.path.join(HERE, "workloads.json")


def layout_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def check_generator(tmp):
    shape = gen.SHAPES["report_daily_fleet"]
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    ma = gen.generate(a, shape, 0)
    gen.generate(b, shape, 0)
    gen.generate(c, shape, 1)
    da, db, dc = (layout_digest(os.path.join(x, "layout")) for x in (a, b, c))
    assert da == db, "same seed gave different bytes"
    assert da != dc, "different seeds gave the same bytes"
    rec = json.load(open(RECORDED))["report_daily_fleet"]["inputs_seed0"]
    assert da == rec["layout_sha256"], f"layout digest changed: {da}"
    for k in ("entities", "days", "files", "rows", "bytes"):
        got = len(ma[k]) if k == "entities" else ma[k]
        assert got == rec[k], f"{k}: generated {got}, recorded {rec[k]}"


def check_expected_model():
    # the repo's golden demo (MockData): total 7700, row 1 at 89.6 %
    # (half-to-even), row 5 = -150 / -1.9, row 14 blank
    stage = dict(zip(gen.STAGE_COLS, (800, 450, 1050, 600, 1600, 1950, 1250,
                                      150, 1100, 820, 50)))
    otp = dict(zip(gen.OTP_COLS, (0.0, 450.0, 1200.0)))
    disc = dict(zip(gen.DISC_COLS, (350.0, 600.0, 400.0, 150.0, 200.0)))
    rows = gen._rows(gen._wide(stage, otp, disc,
                               {"Success": 820, "Failed": 230, "Not Attempted": 50}))
    assert rows[0]["success_count"] == 7700
    assert rows[1]["success_pct"] == 89.6
    assert (rows[5]["drop_count"], rows[5]["drop_pct"]) == (-150, -1.9)
    assert rows[14]["drop_count"] is None and rows[14]["drop_pct"] is None
    assert [gen._bround1(x) for x in (0.25, 0.35, 89.65, -1.25)] == [0.2, 0.4, 89.6, -1.2]
    assert gen._num("12.5") == 12.5 and gen._num("n/a") is None and gen._num("") is None


def check_stats():
    xs = [5, 1, 4, 2, 3]
    assert stats.median(xs) == 3
    assert stats.median([1, 2, 3, 4]) == 2.5
    assert stats.percentile(xs, 0) == 1 and stats.percentile(xs, 100) == 5
    assert stats.percentile([10, 20], 90) == 19
    assert abs(stats.percentile(range(1, 101), 90) - 90.1) < 1e-9
    assert stats.tail_percentile(9) is None
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99


def check_output_compare(tmp):
    import run
    a, b = os.path.join(tmp, "oa"), os.path.join(tmp, "ob")
    for d, tail in ((a, b"x"), (b, b"y")):
        os.makedirs(os.path.join(d, "t.parquet"))
        for name in ("part-00000-1111.snappy.parquet" if d == a
                     else "part-00000-2222.snappy.parquet", "_SUCCESS"):
            open(os.path.join(d, "t.parquet", name), "wb").write(b"same")
        open(os.path.join(d, "r.csv"), "wb").write(tail)
    fa, fb = run.output_files(a), run.output_files(b)
    assert fa["t.parquet/part-*.snappy.parquet"] == fb["t.parquet/part-*.snappy.parquet"]
    assert fa != fb, "a changed output file went unnoticed"


def check_seconds_limit():
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "suite_mix",
         "--seed", "1", "--seconds", "60", "--trace", "0"],
        cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert r.returncode != 0 and not r.stdout.strip(), "--seconds 60 was not refused"


def check_runs():
    bench = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "7", "--seconds", "1", "--trace", str(trace)],
                cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True)
            assert r.returncode == 0, f"{w['name']} trace={trace}: {r.stderr[-2000:]}"
            res = json.loads(r.stdout.strip().splitlines()[-1])
            assert r.returncode == 0 and res["correct"], f"{w['name']} trace={trace}"
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: {set(got) ^ set(want)}"
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics")


def main():
    os.makedirs(build.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=build.BUILD)
    try:
        for check in (lambda: check_generator(tmp), check_expected_model,
                      check_stats, lambda: check_output_compare(tmp),
                      check_seconds_limit):
            check()
        print("ok  fast checks")
        if "--fast" not in sys.argv:
            check_runs()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
