"""The benchmark's own helpers, at a tiny size.

    python -m pytest perfbench/tests -q
"""

import math
import subprocess
import sys
import time

import numpy as np
import pytest
from xcube_resampling_spark.sources.zarr import read_zarr

from checks import oracle_errors, output_stats
from procstats import tree_cpu_s
from tracing import NullTracer, Span, Tracer, covered, self_times
from workloads import ReprojectZarrStack


def df_checksum(df):
    return output_stats(df)["checksum"]


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "t int, j int, i int, value double")


def test_checksum_ignores_row_order(spark):
    rows = [(0, j, i, 0.1 * j - 0.37 * i) for j in range(5) for i in range(7)]
    a = df_checksum(_rows(spark, rows))
    b = df_checksum(_rows(spark, rows[::-1]).repartition(3))
    assert a == b
    moved = rows[:-1] + [(0, 4, 5, rows[-1][3])]
    assert df_checksum(_rows(spark, moved)) != a
    assert df_checksum(_rows(spark, rows[:-1])) != a


def test_checksum_is_stable_for_nan_and_null(spark):
    rows = [(0, 0, 0, math.nan), (0, 0, 1, None), (0, 1, 0, -0.0),
            (0, 1, 1, 2.5)]
    a = df_checksum(_rows(spark, rows))
    assert a == df_checksum(_rows(spark, rows[::-1]))
    # NaN, NULL and a value are three different rows
    assert df_checksum(_rows(spark, [(0, 0, 0, None)] + rows[1:])) != a
    assert df_checksum(_rows(spark, [(0, 0, 0, 0.0)] + rows[1:])) != a
    # -0.0 and 0.0 are the same value
    assert df_checksum(
        _rows(spark, rows[:2] + [(0, 1, 0, 0.0)] + rows[3:])) == a
    stats = output_stats(_rows(spark, rows))
    assert (stats["rows"], stats["finite"]) == (4, 2)


def _tiny(seed):
    return ReprojectZarrStack(seed, size=24, target_size=20, dates=2,
                              chunk=12)


def test_same_seed_same_checksum_other_seed_other_inputs(spark, tmp_path):
    sums, inputs = [], []
    for seed in (5, 5, 6):
        wl = _tiny(seed)
        wl.setup(spark, str(tmp_path / f"seed{seed}"))
        inputs.append(read_zarr(spark, wl.src_path, "value").orderBy(
            "t", "j", "i").toPandas()["value"].to_numpy())
        out = wl.output_frame(NullTracer())
        sums.append(df_checksum(out))
        pdf = out.toPandas()
        bad, _ = oracle_errors(pdf["value"].to_numpy(), wl.oracle(pdf))
        assert bad == 0
    assert sums[0] == sums[1]
    np.testing.assert_array_equal(inputs[0], inputs[1])
    assert not np.array_equal(inputs[0], inputs[2])
    assert sums[0] != sums[2]


def test_self_time_is_duration_minus_children():
    spans = [
        Span("run", 0, None, 1, 0.0, 10.0),
        Span("a", 1, 0, 1, 1.0, 4.0),
        Span("b", 2, 0, 1, 3.0, 6.0),     # overlaps a: union is 1..6
        Span("c", 3, 2, 1, 4.0, 5.0),
        Span("d", 4, 0, 1, 9.0, 12.0),    # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_nests_spans():
    tr = Tracer()
    tr.run_id = 7
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.01)
    outer, inner = tr.spans
    assert inner.parent_id == outer.span_id and outer.parent_id is None
    assert inner.run_id == outer.run_id == 7
    assert outer.start <= inner.start < inner.end <= outer.end


def test_tree_cpu_counts_reaped_children():
    burn = "import time\nt = time.process_time()\n" \
           "while time.process_time() - t < 0.6: pass\n"
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    after = tree_cpu_s()  # the child has exited and been reaped
    assert after - before >= 0.5
