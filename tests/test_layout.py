"""Z-order layout: interleave arithmetic + the actual file-skipping
benefit, measured against real parquet footer statistics (pyarrow)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def test_morton2_known_values(spark):
    from logstream_processing_service_spark.operators.layout import morton2

    df = spark.createDataFrame([(3, 5), (0, 0), (65535, 65535)], "a LONG, b LONG")
    out = [r["z"] for r in df.select(morton2("a", "b").alias("z")).collect()]
    # a=0b011 -> bits 0,2; b=0b101 -> bits 1,5  =>  1+4+2+32
    assert out[0] == 39
    assert out[1] == 0
    assert out[2] == (1 << 32) - 1


def _files_hitting(path: str, col: str, lo: int, hi: int) -> int:
    """Files whose footer [min, max] for ``col`` intersects [lo, hi] —
    exactly the skipping decision a statistics-aware reader makes."""
    n = 0
    for f in glob.glob(os.path.join(path, "part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        cmin, cmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    cmin = s.min if cmin is None else min(cmin, s.min)
                    cmax = s.max if cmax is None else max(cmax, s.max)
        if cmin is not None and not (cmax < lo or cmin > hi):
            n += 1
    return n


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The 100 TB claim, made measurable: on a linear sort-by-x layout a
    y-only predicate touches EVERY file; on the z-ordered layout each
    file bounds BOTH dimensions, so either dimension prunes."""
    from logstream_processing_service_spark.operators.layout import (
        write_zordered,
    )

    n, files = 1 << 14, 16
    # two independent uniform dims in 0..4095 (hash-derived, deterministic)
    df = (
        spark.range(n)
        .select(
            F.expr("CAST(abs(hash(id, 1)) % 4096 AS BIGINT)").alias("x"),
            F.expr("CAST(abs(hash(id, 2)) % 4096 AS BIGINT)").alias("y"),
        )
    )
    linear = str(tmp_path / "linear")
    zordered = str(tmp_path / "zorder")
    (
        df.repartitionByRange(files, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear)
    )
    write_zordered(df, zordered, "x", "y", n_files=files)

    # same row content either way
    assert spark.read.parquet(zordered).count() == n

    lo, hi = 1024, 1279  # a 1/16-wide slice
    lin_x = _files_hitting(linear, "x", lo, hi)
    lin_y = _files_hitting(linear, "y", lo, hi)
    z_x = _files_hitting(zordered, "x", lo, hi)
    z_y = _files_hitting(zordered, "y", lo, hi)

    # linear layout: x prunes hard (range-sampling variance allows a
    # couple of boundary files), y not at all — the load-bearing claim
    assert lin_x <= 5
    assert lin_y == files
    # z-order: BOTH dimensions prune (top z bits pin top bits of x AND y)
    assert z_x <= files / 2
    assert z_y <= files / 2
    assert z_y < lin_y
    # and the pruned scan is correct: Spark reads the box identically
    box = (F.col("x").between(lo, hi)) & (F.col("y").between(lo, hi))
    a = spark.read.parquet(linear).filter(box).count()
    b = spark.read.parquet(zordered).filter(box).count()
    assert a == b


def _hilbert_py(x, y, order=16):
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert2_matches_python_reference(spark):
    from logstream_processing_service_spark.operators.layout import (
        with_hilbert,
    )

    import itertools

    pts = list(itertools.product([0, 1, 2, 3, 7, 255, 40000, 65535], repeat=2))
    df = spark.createDataFrame(pts, "a LONG, b LONG")
    got = {
        (r["a"], r["b"]): r["h"]
        for r in with_hilbert(df, "a", "b", "h").collect()
    }
    for (a, b), h in got.items():
        assert h == _hilbert_py(a, b), (a, b)
    # bijectivity on a small grid + unit-step adjacency (the Hilbert
    # property Morton lacks: consecutive d are spatial neighbors)
    grid = list(itertools.product(range(8), repeat=2))
    df8 = spark.createDataFrame(grid, "a LONG, b LONG")
    h8 = {
        (r["a"], r["b"]): r["h"]
        for r in with_hilbert(df8, "a", "b", "h", order=3).collect()
    }
    assert sorted(h8.values()) == list(range(64))
    by_d = {h: xy for xy, h in h8.items()}
    for d in range(63):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1  # Manhattan-adjacent


def test_hilbert_layout_prunes_like_zorder(spark, tmp_path):
    """Hilbert clustering (the layout ``maintenance.compact_parquet``
    writes with ``curve="hilbert"``) bounds BOTH dimensions per file at
    least as well as Z-order on the same data (tighter on average)."""
    from logstream_processing_service_spark.operators.layout import (
        with_hilbert,
        write_zordered,
    )

    n, files = 1 << 14, 16
    df = spark.range(n).select(
        F.expr("CAST(abs(hash(id, 1)) % 4096 AS BIGINT)").alias("x"),
        F.expr("CAST(abs(hash(id, 2)) % 4096 AS BIGINT)").alias("y"),
    )
    zp, hp = str(tmp_path / "z"), str(tmp_path / "h")
    write_zordered(df, zp, "x", "y", n_files=files)
    (
        with_hilbert(df, "x", "y", "_h")
        .repartitionByRange(files, "_h")
        .sortWithinPartitions("_h")
        .drop("_h")
        .write.parquet(hp)
    )
    assert spark.read.parquet(hp).count() == n

    lo, hi = 1024, 1279
    for col in ("x", "y"):
        assert _files_hitting(hp, col, lo, hi) <= files / 2
    # average per-file bounding-box area: Hilbert <= Z-order (allowing
    # range-sampling noise)
    def avg_area(path):
        import glob as g

        import pyarrow.parquet as pq

        total, cnt = 0, 0
        for f in g.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins = {"x": None, "y": None}
            maxs = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    nm = c.path_in_schema
                    if nm in mins and c.statistics is not None:
                        s = c.statistics
                        mins[nm] = s.min if mins[nm] is None else min(mins[nm], s.min)
                        maxs[nm] = s.max if maxs[nm] is None else max(maxs[nm], s.max)
            total += (maxs["x"] - mins["x"]) * (maxs["y"] - mins["y"])
            cnt += 1
        return total / cnt

    assert avg_area(hp) <= avg_area(zp) * 1.15


def test_hilbert_masks_out_of_range_inputs(spark):
    """ADVICE r4: negative / >order-bit inputs must not produce garbage
    curve keys — they are masked to order bits exactly like morton2."""
    from logstream_processing_service_spark.operators.layout import (
        with_hilbert,
    )

    df = spark.createDataFrame(
        [(5, 9), (5 + (1 << 16), 9), (-1, 0), ((1 << 16) - 1, 0)],
        "x long, y long",
    )
    rows = with_hilbert(df, "x", "y", "h").select("x", "y", "h").collect()
    by_input = {(r["x"], r["y"]): r["h"] for r in rows}
    # wide value masks down to the same key as its low 16 bits
    assert by_input[(5 + (1 << 16), 9)] == by_input[(5, 9)]
    # negative masks to all-ones, same as the max in-range value
    assert by_input[(-1, 0)] == by_input[((1 << 16) - 1, 0)]
