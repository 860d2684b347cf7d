"""Z-order layout: the real write path must produce parquet files
whose FOOTER statistics prune a 2-D predicate better than the
time-linear layout — checked against actual per-file min/max metadata,
not simulated buckets."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.zorder import (
    o_zvalue_sql,
    zorder_write,
    zvalue_col,
    zvalue_sql,
)
from bigdatasmallprice_spark.queries.core import table

SF = "/root/testdata/sf0.001"

_BASE_US = 1_704_067_200_000_000
_XB_US = 10_800_000_000


def _file_stats(path: str, cols: tuple[str, str]) -> list[dict]:
    out = []
    for f in sorted(glob.glob(path + "/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for rg in range(md.num_row_groups):
            for c in cols:
                st = md.row_group(rg).column(names.index(c)).statistics
                lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
        out.append({"lo": lo, "hi": hi})
    return out


def _files_overlapping(stats, box) -> int:
    n = 0
    for s in stats:
        if all(s["hi"][c] >= lo and s["lo"][c] <= hi for c, (lo, hi) in box.items()):
            n += 1
    return n


def test_zvalue_col_matches_sql_expr(spark):
    df = spark.range(300).select(
        (F.col("id") % 251).alias("xb"), (F.col("id") * 7 % 241).alias("yb")
    )
    got = df.select(
        zvalue_col(F.col("xb"), F.col("yb")).alias("a"),
        F.expr(zvalue_sql("xb", "yb")).alias("b"),
    )
    assert got.filter("a != b").count() == 0


def test_zvalue_sql_matches_duckdb(spark):
    import duckdb

    rows = spark.range(200).select(
        (F.col("id") % 199).alias("xb"), (F.col("id") * 13 % 193).alias("yb")
    )
    s = {(r.xb, r.yb): r.z for r in rows.select("xb", "yb", F.expr(zvalue_sql("xb", "yb")).alias("z")).collect()}
    con = duckdb.connect()
    o = {
        (xb, yb): z
        for xb, yb, z in con.execute(
            f"SELECT xb, yb, {o_zvalue_sql('xb', 'yb')} FROM "
            "(SELECT i % 199 AS xb, i * 13 % 193 AS yb FROM range(200) t(i))"
        ).fetchall()
    }
    assert s == o


def test_zorder_write_prunes_better_than_linear(spark, tmp_path):
    ev = table(spark, SF, "events").select(
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("vc"),
    )
    xb = F.expr(f"least((us - {_BASE_US}) div {_XB_US}, 255)")
    vb = F.expr("least(vc div 256, 255)")

    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    zorder_write(ev, zpath, xb, vb, n_files=16)
    ev.repartitionByRange(16, "us").sortWithinPartitions("us").write.parquet(lpath)

    # the same 2-D box the registered query uses, in raw units:
    # days 8..22 of January x value 100.00..151.03 CHF
    box = {
        "us": (_BASE_US + 64 * _XB_US, _BASE_US + 176 * _XB_US - 1),
        "vc": (39 * 256, 59 * 256 - 1),
    }
    zstats = _file_stats(zpath, ("us", "vc"))
    lstats = _file_stats(lpath, ("us", "vc"))
    assert len(zstats) == len(lstats) == 16
    z_n = _files_overlapping(zstats, box)
    l_n = _files_overlapping(lstats, box)
    # time-linear prunes only the time axis: ~half the files survive;
    # z-order prunes both axes and must do strictly better
    assert z_n < l_n, (z_n, l_n)

    # losslessness against the data itself: every matching row is in
    # an overlapping file under BOTH layouts (footer pruning never
    # drops rows — the guarantee file skipping relies on)
    matched = ev.filter(
        (F.col("us").between(*box["us"])) & (F.col("vc").between(*box["vc"]))
    ).count()
    for path, stats in ((zpath, zstats), (lpath, lstats)):
        files = sorted(glob.glob(path + "/part-*.parquet"))
        keep = [
            f
            for f, s in zip(files, stats)
            if all(
                s["hi"][c] >= lo and s["lo"][c] <= hi
                for c, (lo, hi) in box.items()
            )
        ]
        got = (
            spark.read.parquet(*keep)
            .filter(
                (F.col("us").between(*box["us"]))
                & (F.col("vc").between(*box["vc"]))
            )
            .count()
        )
        assert got == matched
