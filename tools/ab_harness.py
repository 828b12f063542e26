#!/usr/bin/env python
"""Interleaved A/B timing + bit-equality harness for optimization work.

Usage from a driver script:

    from tools.ab_harness import ab_compare
    ab_compare(spark, sf_dir, "name", build_a, build_b, reps=5)

- equality: both sides' full results to pandas, canonicalized (sorted
  columns, sorted rows, exact string render) and compared EXACTLY — a
  variant that changes any value/row/column fails loudly.
- timing: build+count per rep, A/B interleaved so window drift cancels;
  reports min, quartiles and median of each side and returns both lists
  of per-rep seconds.
"""

from __future__ import annotations

import time


def canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf.to_csv(index=False, float_format="%.17g")


def ab_compare(spark, sf_dir, name, build_a, build_b, reps=5, check=True):
    if check:
        pa = canon(build_a(spark, sf_dir).toPandas())
        pb = canon(build_b(spark, sf_dir).toPandas())
        if pa != pb:
            la, lb = pa.splitlines(), pb.splitlines()
            diff = [
                (x, y) for x, y in zip(la, lb) if x != y
            ][:5]
            raise AssertionError(
                f"{name}: results differ (rows {len(la) - 1} vs {len(lb) - 1}); "
                f"first diffs: {diff}"
            )
        print(f"{name}: EQUAL ({pa.count(chr(10)) - 1} rows)")

    ta, tb = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        build_a(spark, sf_dir).count()
        ta.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        build_b(spark, sf_dir).count()
        tb.append(time.perf_counter() - t0)

    def stats(ts):
        s = sorted(ts)
        q = lambda f: s[min(len(s) - 1, int(f * len(s)))]  # noqa: E731
        return f"min {s[0]:.3f}s q1 {q(0.25):.3f}s med {q(0.5):.3f}s q3 {q(0.75):.3f}s"

    print(f"{name}: A {stats(ta)} | B {stats(tb)} | speedup(min) {min(ta) / min(tb):.2f}x")
    print(f"{name}: A reps {[round(t, 3) for t in ta]} | B reps {[round(t, 3) for t in tb]}")
    return ta, tb
