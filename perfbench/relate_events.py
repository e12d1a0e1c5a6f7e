"""relate_events: the interval operators over two segment layers and one
point layer, staged once in set-up. JVM-only joins, windows and shuffles;
nothing crosses to Python and nothing is written to disk by the timed
operations.

Checks compare every operation's collected output with DuckDB over the
same parquet files, using the closure rules of the oracle SQL
(segments are closed on the right: a point at ``loc`` is on ``(beg, end]``;
two segments overlap when ``l.end > r.beg and l.beg < r.end``).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from linref_spark.events import modify as MOD
from linref_spark.events.constrain import split_at_locs
from linref_spark.events.frame import add_event_id
from linref_spark.events.integrate import integrate
from linref_spark.lrs import LRS
from linref_spark.relate import agg as AGG
from linref_spark.relate.distribute import distribute
from linref_spark.relate.join import JoinStrategy, intersect_pairs, overlay_pairs
from linref_spark.spatial.cluster import cluster

import inputs
from harness import Op, now

SEG = LRS(key_cols=("route",), beg_col="beg", end_col="end", closed="right")
PTS = LRS(key_cols=("route",), loc_col="loc")
BINNED = JoinStrategy("binned", bin_size=25.0)
RESEG_LEN = 7.0
CLUSTER_ROUTES = 10
EPS = 1e-6


class Workload:
    name = "relate_events"

    def __init__(self, spark, seed: int, work: str, tracer):
        self.paths = {}
        os.makedirs(os.path.join(work, "inputs"), exist_ok=True)
        for name, pdf in inputs.event_layers(seed).items():
            path = os.path.join(work, "inputs", f"{name}.parquet")
            pdf.to_parquet(path, index=False)
            self.paths[name] = path
        order = {"seg1": ["route", "beg", "end", "val"],
                 "seg2": ["route", "beg", "end", "val"],
                 "pts": ["route", "loc", "pval", "status"]}
        frames = {}
        for name, path in self.paths.items():
            with tracer.group("setup:events.add_event_id"):
                t0 = now()
                frames[name] = add_event_id(
                    spark.read.parquet(path), order_by=order[name]
                ).localCheckpoint()
                tracer.note("setup:events.add_event_id", wall_s=now() - t0)
        self.s1, self.s2, self.p = frames["seg1"], frames["seg2"], frames["pts"]

    def ops(self) -> list:
        s1, s2, p = self.s1, self.s2, self.p
        seg_cols = ["event_id", "route", "beg", "end", "val"]
        return [
            Op("count_overlaps_equi", "relate.count_overlaps_equi", lambda: AGG.agg_count(
                intersect_pairs(s1, s2, SEG, SEG), s1, out_col="n").select(*seg_cols, "n")),
            Op("count_overlaps_binned", "relate.count_overlaps_binned", lambda: AGG.agg_count(
                intersect_pairs(s1, s2, SEG, SEG, strategy=BINNED), s1, out_col="n"
            ).select(*seg_cols, "n")),
            Op("overlay_sum_binned", "relate.overlay_sum_binned", lambda: AGG.agg_sum(
                overlay_pairs(s1, s2, SEG, SEG, strategy=BINNED), s1, s2, "val", out_col="s"
            ).select(*seg_cols, "s")),
            Op("pts_on_seg_binned", "relate.pts_on_seg_binned", lambda: AGG.agg_count(
                intersect_pairs(s1, p, SEG, PTS, strategy=BINNED), s1, out_col="n"
            ).select(*seg_cols, "n")),
            Op("dissolve", "events.dissolve", lambda: MOD.dissolve(s1, SEG).select(
                "route", "beg", "end", "n_events")),
            Op("resegment", "events.resegment", lambda: MOD.resegment(
                s1, SEG, length=RESEG_LEN, fill="cut").select(
                "route", "beg", "end", "source_event_id")),
            Op("distribute", "relate.distribute", lambda: distribute(
                intersect_pairs(s1, p, SEG, PTS), s1, p, SEG, PTS, value_col=None,
                decay_size=2, decay_func="linear").select(*seg_cols, "distributed")),
            Op("split_at_locs", "events.split_at_locs", lambda: split_at_locs(
                s1, p, SEG, PTS, inverse_col="six").select("route", "beg", "end", "six")),
            Op("integrate", "events.integrate", lambda: integrate(
                [(s1, SEG), (s2, SEG)], fill_gaps=False).select(
                "route", "beg", "end", "index_0", "index_1")),
            Op("cluster", "spatial.cluster", lambda: cluster(
                p.where(F.col("route") < CLUSTER_ROUTES), PTS, max_gap=1.0
            ).select("route", "loc", "cluster")),
        ]

    # -- checks -------------------------------------------------------------

    def check(self, outs: dict) -> dict:
        con = duckdb.connect()
        for name, path in self.paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        q = lambda sql: con.execute(sql).df()  # noqa: E731
        errors = {}

        def same_rows(got: pd.DataFrame, col: str, want: pd.DataFrame, rel=0.0) -> str:
            """Compare per-segment results as multisets of rows: identical
            input rows have identical results, so ties cannot mislead."""
            key = ["route", "beg", "end", "val"]
            a = got.sort_values(key + [col], kind="mergesort").reset_index(drop=True)
            b = want.sort_values(key + [col], kind="mergesort").reset_index(drop=True)
            if len(a) != len(b):
                return f"{len(a)} rows, expected {len(b)}"
            for k in key:
                if not np.array_equal(a[k].to_numpy(), b[k].to_numpy()):
                    return f"rows differ in {k}"
            x, y = a[col].to_numpy(np.float64), b[col].to_numpy(np.float64)
            bad = ~np.isclose(x, y, rtol=rel, atol=rel)
            return f"{int(bad.sum())} rows differ in {col}" if bad.any() else ""

        def add(op, msg):
            if msg:
                errors[op] = msg

        con.execute("CREATE TEMP TABLE l AS SELECT *, row_number() OVER () AS rid FROM seg1")
        con.execute("CREATE TEMP TABLE p AS SELECT *, row_number() OVER () AS pid FROM pts")
        per_seg = 'any_value(l.route) AS route, any_value(l.beg) AS beg, ' \
                  'any_value(l."end") AS "end", any_value(l.val) AS val'
        w = ('greatest(least(l."end" - r.beg, r."end" - l.beg, '
             'least(l."end" - l.beg, r."end" - r.beg)), 0)')
        ovl = q(f"""
            SELECT {per_seg}, count(r.route) AS n,
                   coalesce(sum({w} / (r."end" - r.beg) * r.val), 0.0) AS s
            FROM l LEFT JOIN seg2 r
              ON r.route = l.route AND l."end" > r.beg AND l.beg < r."end"
            GROUP BY l.rid""")
        con.execute("""CREATE TEMP TABLE lp AS SELECT l.rid, p.pid FROM l JOIN p
                       ON p.route = l.route AND p.loc > l.beg AND p.loc <= l."end" """)
        on_seg = q(f"SELECT {per_seg}, count(lp.pid) AS n FROM l LEFT JOIN lp "
                   "ON lp.rid = l.rid GROUP BY l.rid")
        matched = int(q("SELECT count(DISTINCT pid) AS m FROM lp").iat[0, 0])

        add("count_overlaps_equi", same_rows(outs["count_overlaps_equi"], "n", ovl))
        eq = outs["count_overlaps_equi"].set_index("event_id")["n"].sort_index()
        bn = outs["count_overlaps_binned"].set_index("event_id")["n"].sort_index()
        if not (eq.index.equals(bn.index) and np.array_equal(eq.to_numpy(), bn.to_numpy())):
            add("count_overlaps_binned", "binned counts differ from equi row for row")
        else:
            add("count_overlaps_binned", same_rows(outs["count_overlaps_binned"], "n", ovl))
        add("overlay_sum_binned", same_rows(outs["overlay_sum_binned"], "s", ovl, rel=1e-9))
        add("pts_on_seg_binned", same_rows(outs["pts_on_seg_binned"], "n", on_seg))

        # dissolve: the chain rule of the oracle (a run continues while the
        # previous event in (beg, end) order ends exactly where the next
        # begins), then the union length of every route is unchanged
        # j breaks ties between identical events, so that both windows see
        # the same order (the oracle's sort key has the same role)
        want = q("""
            WITH s AS (
              SELECT route, beg, "end", rid AS j, CASE WHEN lag("end") OVER
                (PARTITION BY route ORDER BY beg, "end", rid) = beg THEN 0 ELSE 1 END AS nr
              FROM l),
            r AS (SELECT *, sum(nr) OVER (PARTITION BY route ORDER BY beg, "end", j
                  ROWS UNBOUNDED PRECEDING) AS run FROM s)
            SELECT route, min(beg) AS beg, max("end") AS "end", count(*) AS n_events
            FROM r GROUP BY route, run""")
        got = outs["dissolve"]
        key = ["route", "beg", "end", "n_events"]
        a = got[key].sort_values(key).to_numpy(np.float64)
        b = want[key].sort_values(key).to_numpy(np.float64)
        if a.shape != b.shape or not np.array_equal(a, b):
            add("dissolve", f"{len(got)} spans differ from the chain rule's {len(want)}")
        elif not np.allclose(_union_len(got), _union_len(q("SELECT * FROM seg1"))):
            add("dissolve", "union length changed")

        seg1 = q("SELECT route, beg, \"end\" FROM seg1")
        total = float((seg1["end"] - seg1["beg"]).sum())
        rs = outs["resegment"]
        pieces = int(np.maximum(np.ceil((seg1["end"] - seg1["beg"]) / RESEG_LEN), 1).sum())
        if len(rs) != pieces:
            add("resegment", f"{len(rs)} pieces, expected {pieces}")
        elif abs(float((rs["end"] - rs["beg"]).sum()) - total) > EPS * total:
            add("resegment", "total length changed")
        elif float((rs["end"] - rs["beg"]).max()) > RESEG_LEN + EPS:
            add("resegment", "a piece is longer than the target length")

        got_sum = float(outs["distribute"]["distributed"].sum())
        if abs(got_sum - matched) > EPS * matched:
            add("distribute", f"distributed weight {got_sum:.6f} != {matched} matched points")

        sp = outs["split_at_locs"]
        src = self.s1.select("event_id", "beg", "end").toPandas().set_index("event_id")
        s_beg = src["beg"].reindex(sp["six"]).to_numpy()
        s_end = src["end"].reindex(sp["six"]).to_numpy()
        if abs(float((sp["end"] - sp["beg"]).sum()) - total) > EPS * total:
            add("split_at_locs", "total length changed")
        elif np.isnan(s_beg).any() or (sp["beg"].to_numpy() < s_beg - EPS).any() or (
                sp["end"].to_numpy() > s_end + EPS).any():
            add("split_at_locs", "a piece lies outside its source segment")

        ig = outs["integrate"]
        both = q('SELECT route, beg, "end" FROM seg1 UNION ALL SELECT route, beg, "end" FROM seg2')
        if not np.allclose(float((ig["end"] - ig["beg"]).sum()), _union_len(both).sum()):
            add("integrate", "pieces do not tile the union of the two layers")
        elif ((ig["index_0"] < 0) & (ig["index_1"] < 0)).any():
            add("integrate", "a piece belongs to neither layer")

        runs = q(f"""
            WITH sub AS (SELECT route, loc, pid AS j FROM p WHERE route < {CLUSTER_ROUTES}),
            f AS (SELECT *, CASE WHEN loc - lag(loc) OVER (PARTITION BY route ORDER BY loc, j)
                  < 2.0 THEN 0 ELSE 1 END AS nr FROM sub)
            SELECT route, loc, sum(nr) OVER (PARTITION BY route ORDER BY loc, j
                   ROWS UNBOUNDED PRECEDING) AS run FROM f""")
        cl = outs["cluster"]
        if len(cl) != len(runs):
            add("cluster", f"{len(cl)} rows, expected {len(runs)}")
        else:
            got_p = _partition(cl, ["cluster"])
            want_p = _partition(runs, ["route", "run"])
            n = cl["cluster"].nunique()
            if got_p != want_p:
                add("cluster", "components differ from the sorted-gap runs")
            elif sorted(cl["cluster"].unique()) != list(range(n)):
                add("cluster", "labels are not dense")
        con.close()
        return errors


def _union_len(df: pd.DataFrame) -> np.ndarray:
    """Per-route length of the union of ``[beg, end]`` intervals."""
    d = df.sort_values(["route", "beg"])
    prev_max = d.groupby("route")["end"].cummax().groupby(d["route"]).shift()
    block = (prev_max.isna() | (d["beg"] > prev_max)).cumsum()
    spans = d.groupby([d["route"], block]).agg(b=("beg", "min"), e=("end", "max"))
    return (spans["e"] - spans["b"]).groupby(level=0).sum().sort_index().to_numpy()


def _partition(df: pd.DataFrame, by: list) -> set:
    return {
        tuple(sorted(set(zip(g["route"], g["loc"]))))
        for _, g in df.groupby(by)
    }
