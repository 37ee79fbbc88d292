"""The benchmark's workloads.

Each workload has:

* ``make_inputs(dir, seed)``: writes its input tables as parquet, from the
  seed alone, before any clock starts;
* ``expected(dir)``: the answer of the repository's DuckDB oracle
  (``__spark_entry__.oracle_sql``) run over the same parquet files, so the
  engine is not involved;
* ``register(spark, dir)``: reads the inputs into DataFrames;
* ``run_pass(spark, inputs, tracer)``: one pass through the engine's public
  layers, returning an answer in the same shape as ``expected``.

Answers are small: per-tile counts, or order-free fingerprints (row count,
modular key sums, exact sums of integer-valued numbers), aggregated in
Spark for the pass and in DuckDB for the oracle, so checking a pass costs
one small collect per layer.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

P = 2147483647  # modulus of the key checksums (fits long sums in Spark)


def _write(df: pd.DataFrame, path: str, files: int = 1,
           schema: pa.Schema | None = None):
    """Write `df` as `files` parquet files under directory `path`, so that
    Spark reads it as about `files` partitions."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), files)):
        t = pa.Table.from_pandas(df.iloc[part], schema=schema,
                                 preserve_index=False)
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


def compare(expected: dict, got: dict) -> list[str]:
    """Names of the answer parts that differ (an empty list: correct)."""
    return [k for k in sorted(set(expected) | set(got))
            if expected.get(k) != got.get(k)]


def _fingerprint(df, key_expr: str, value_col: str | None = None) -> tuple:
    """Order-free fingerprint of a DataFrame: (rows, sum of key mod P
    [, exact sum of value, key-weighted sum of value]).  Values must be
    integer-valued doubles, so their sums are exact in any order."""
    from pyspark.sql import functions as F
    aggs = [F.count("*"), F.sum(F.expr(f"pmod({key_expr}, {P})"))]
    if value_col:
        aggs += [F.sum(value_col),
                 F.sum(F.col(value_col) * F.expr(f"pmod({key_expr}, 1009)"))]
    row = df.agg(*aggs).first()
    return tuple(0 if v is None else v for v in row)


def _duck(views: dict[str, str]):
    """A DuckDB connection with each {name: SELECT} registered as a view."""
    import duckdb
    con = duckdb.connect()
    for name, sql in views.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def _duck_fingerprint(con, query: str, key_expr: str,
                      value_col: str | None = None) -> tuple:
    """`_fingerprint` of an oracle query's result, computed in DuckDB."""
    aggs = f"count(*), sum(({key_expr}) % {P})"
    if value_col:
        aggs += (f", sum(CAST({value_col} AS DOUBLE)), "
                 f"sum(CAST({value_col} AS DOUBLE) * (({key_expr}) % 1009))")
    row = con.execute(f"SELECT {aggs} FROM ({query}) q").fetchone()
    return tuple(0 if v is None else (int(v) if i < 2 else float(v))
                 for i, v in enumerate(row))


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


# ==========================================================================
# docs_join: decode -> tiling -> broadcast PIP join -> kNN
# ==========================================================================
class DocsJoin:
    """The north-rule pipeline over interleaved documents.

    Inputs: N_DOCS documents with the interleaved text/media spans of
    sgspark.synth, whose first media span is a point at an integer position
    given by a formula in the doc index (``PX``/``PY`` of
    ``__spark_entry__``); N_ZONES square zones, centre and half-width given
    by formulas in the zone key (``ZX``/``ZY``/``ZR``).

    The seed picks where the runs of consecutive doc indexes and zone keys
    start.  The position formulas are modular steps, so each seed's layout
    is a translate (on the torus of the domain) of every other seed's and
    costs the same work.  Randomly sampled keys made the k-NN ring search
    take 17 jobs on one seed and 30 on another.
    """

    name = "docs_join"
    N_DOCS = 12_000
    N_ZONES = 600
    rows = N_DOCS

    def make_inputs(self, d: str, seed: int):
        from __spark_entry__ import ZR, ZX, ZY
        from sgspark.synth import gen_documents_pdf
        rng = np.random.default_rng(seed)
        idx = int(rng.integers(0, 10_000_000)) + np.arange(self.N_DOCS)
        _write(gen_documents_pdf(idx.astype(np.int64)), f"{d}/docs", files=8,
               schema=pa.schema([
                   ("doc_id", pa.string()), ("doc_index", pa.int64()),
                   ("spans", pa.list_(pa.struct([
                       ("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])))]))
        k = int(rng.integers(0, 1_000_000)) + np.arange(self.N_ZONES)
        con = _duck({})
        con.register("customer", pd.DataFrame({"c_custkey": k}))

        def corner(sx, sy):
            return (f"printf('%.1f %.1f', CAST({ZX} {sx} {ZR} AS DOUBLE), "
                    f"CAST({ZY} {sy} {ZR} AS DOUBLE))")

        ring = ", ', ', ".join(corner(*c) for c in (
            "--", "+-", "++", "-+", "--"))
        zones = con.execute(f"""
            SELECT c_custkey AS zone_id, CAST({ZX} AS DOUBLE) AS cx,
                   CAST({ZY} AS DOUBLE) AS cy,
                   concat('POLYGON ((', {ring}, '))') AS geometry_wkt
            FROM customer ORDER BY c_custkey""").df()
        _write(zones, f"{d}/zones", files=4)

    def expected(self, d: str) -> dict:
        from __spark_entry__ import oracle_sql
        q = oracle_sql()
        con = _duck({
            "documents": f"SELECT doc_index AS doc_id FROM {_parquet(d + '/docs')}",
            "customer": f"SELECT zone_id AS c_custkey FROM {_parquet(d + '/zones')}",
        })
        tiles = {t: int(n) for t, n in
                 con.execute(q["tile_assign"]).fetchall()}
        return {
            "tiles": tiles, "gridloop": tiles,
            "pip": _duck_fingerprint(con, q["pip_join"],
                                     "doc_id * 1000003 + zone_id"),
            "knn": _duck_fingerprint(con, q["knn"],
                                     "doc_id * 131 + k_rank * 1000003 + d2"),
        }

    def register(self, spark, d: str) -> dict:
        return {"docs": spark.read.parquet(f"{d}/docs"),
                "zones": spark.read.parquet(f"{d}/zones")}

    def run_pass(self, spark, inp: dict, tr) -> dict:
        from pyspark.sql import functions as F
        from sgspark.io import extract_geometries, wkt_to_wkb_df
        from sgspark.joins import sjoin_pairs
        from sgspark.knn import get_k_nearest_neighbors
        from sgspark.tiling import add_grid_id, gridloop, grid_id_expr

        with tr.span("io.extract_geometries") as sp:
            pts = sp.out(tr.keep(
                extract_geometries(inp["docs"])
                .where("geom_kind = 'point' AND span_pos = 1")
                .select("doc_index", "geometry", "minx", "miny", "maxx",
                        "maxy")))
        with tr.span("io.wkt_to_wkb_df") as sp:
            zones = sp.out(tr.keep(wkt_to_wkb_df(inp["zones"])))
        xy = pts.selectExpr("doc_index AS doc_id", "minx AS x", "miny AS y")
        with tr.span("tiling.add_grid_id") as sp:
            tiled = sp.out(add_grid_id(xy, 1000, out_col="tile_id"))
        with tr.span("tiling.gridloop") as sp:
            cells = sp.out(gridloop(xy, per_cell_count,
                                    "x double, y double, n_points long",
                                    1000.0))
        with tr.span("joins.sjoin_pairs") as sp:
            pairs = sp.out(sjoin_pairs(
                pts, zones, "within", left_id="doc_index",
                right_id="zone_id", broadcast_right=True,
                assume_left_points=True))
        with tr.span("knn.get_k_nearest_neighbors") as sp:
            nn = sp.out(get_k_nearest_neighbors(
                xy, zones.selectExpr("zone_id", "cx AS x", "cy AS y"), 3,
                left_id="doc_id", right_id="zone_id"))
        with tr.span("bench.check"):
            tiles = {r[0]: r[1] for r in
                     tiled.groupBy("tile_id").count().collect()}
            grid = {r[0]: r[1] for r in cells.select(
                F.expr(grid_id_expr("x", "y", 1000)), "n_points").collect()}
            return {
                "tiles": tiles, "gridloop": grid,
                "pip": _fingerprint(pairs, "doc_index * 1000003 + zone_id"),
                # only the distances enter the answer, so equal-distance
                # ties cannot make a wrong answer
                "knn": _fingerprint(nn.selectExpr(
                    "doc_id * 131 + k * 1000003 + "
                    "cast(round(distance * distance) as bigint) AS key"),
                    "key"),
            }


def per_cell_count(cell: pd.DataFrame) -> pd.DataFrame:
    """gridloop cell function: the cell's own point count, keyed by its
    lowest own point (enough to recover the cell's tile id)."""
    own = cell[~cell["__halo"]]
    if len(own) == 0:
        return pd.DataFrame({"x": [], "y": [], "n_points": []})
    return pd.DataFrame({"x": [float(own.x.min())], "y": [float(own.y.min())],
                         "n_points": [len(own)]})


# ==========================================================================
# polygon_algebra: concave overlay and buffer-dissolve-explode
# ==========================================================================
class PolygonAlgebra:
    """Concave L-shape layers A (pitch 100, 40 per row) and B (pitch
    390 x 370, 10 per row): the ``_lshape_layers`` formulas of
    ``__spark_entry__`` over one seeded band of rows, so that both sides of
    the distributed cell join are large.  B's shapes are pairwise disjoint,
    and so are A's after a 1.5 buffer, which gives the exact integer
    oracles ``overlay_concave`` and ``buffdiss``."""

    name = "polygon_algebra"
    A_ROWS = 40                              # 40 A-shapes per row
    N_B = (A_ROWS * 100 // 370 + 2) * 10     # B rows covering them, 10 each
    rows = A_ROWS * 40 + N_B
    BUFFER = 1.5

    def _keys(self, seed: int):
        rng = np.random.default_rng(seed)
        ra0 = int(rng.integers(0, 20_000))
        a = np.arange(40 * ra0, 40 * (ra0 + self.A_ROWS), dtype=np.int64)
        rb0 = 100 * ra0 // 370
        return a, np.arange(10 * rb0, 10 * rb0 + self.N_B, dtype=np.int64)

    def make_inputs(self, d: str, seed: int):
        from __spark_entry__ import _LA, _LB, _lshape_layer_sql
        a, b = self._keys(seed)
        con = _duck({})
        for key, layer, keys, out in (("c_custkey", _LA, a, "aid"),
                                      ("s_suppkey", _LB, b, "bid")):
            con.register("keys", pd.DataFrame({key: keys}))
            wkt = _lshape_layer_sql(
                key, **{k: v.replace("div", "//") for k, v in layer.items()})
            _write(con.execute(f"SELECT {key} AS {out}, {wkt} AS geometry_wkt "
                               f"FROM keys ORDER BY {key}").df(),
                   f"{d}/{out[0]}", files=4)

    def expected(self, d: str) -> dict:
        from __spark_entry__ import oracle_sql
        q = oracle_sql()
        con = _duck({
            "customer": f"SELECT aid AS c_custkey FROM {_parquet(d + '/a')}",
            "supplier": f"SELECT bid AS s_suppkey FROM {_parquet(d + '/b')}",
        })
        return {
            "overlay": _duck_fingerprint(con, q["overlay_concave"],
                                         "aid * 1000003 + bid", "area"),
            "buffdiss": _duck_fingerprint(con, q["buffdiss"], "band",
                                          "adj_area"),
        }

    def register(self, spark, d: str) -> dict:
        par = spark.sparkContext.defaultParallelism
        return {"a": spark.read.parquet(f"{d}/a").repartition(par),
                "b": spark.read.parquet(f"{d}/b").repartition(par)}

    def run_pass(self, spark, inp: dict, tr) -> dict:
        from pyspark.sql import functions as F
        from __spark_entry__ import _area_rows
        from sgspark.dissolve import buffdissexp
        from sgspark.io import wkt_to_wkb_df
        from sgspark.overlay import clean_overlay

        with tr.span("io.wkt_to_wkb_df") as sp:
            a = sp.out(tr.keep(wkt_to_wkb_df(inp["a"])))
            b = sp.out(tr.keep(wkt_to_wkb_df(inp["b"])))
        with tr.span("overlay.clean_overlay") as sp:
            inter = sp.out(clean_overlay(a, b, "intersection", id1="aid",
                                         id2="bid", gridsize=500.0))
        with tr.span("dissolve.buffdissexp") as sp:
            parts = sp.out(buffdissexp(
                a.withColumn("band", F.expr("aid div 40"))
                 .select("band", "geometry", "minx", "miny", "maxx", "maxy"),
                self.BUFFER, by=["band"], quad_segs=8))
        with tr.span("bench.check"):
            areas = _area_rows(inter.select("aid", "bid", "geometry"),
                               ["aid", "bid"])
            return {
                "overlay": _fingerprint(areas, "aid * 1000003 + bid", "area"),
                # the buffered arcs leave float error below 1e-5 per part
                "buffdiss": _fingerprint(
                    _adj_area_rows(parts, self.BUFFER).selectExpr(
                        "band", "round(adj_area, 3) AS adj_area"),
                    "band", "adj_area"),
            }


def _adj_area_rows(parts, r: float):
    """Buffered part area minus the analytic arc and reflex-corner terms
    (the __spark_entry__ q_buffdiss correction), leaving area + perimeter*r,
    an integer for these shapes."""
    sector = 0.5 * r * r * float(np.sin((np.pi / 2) / 8)) * 8
    corr = 5 * sector - r * r

    def kernel(batches):
        from sgspark.geom.wkb import from_wkb
        for pdf in batches:
            if len(pdf) == 0:
                continue
            o = pdf[["band"]].copy()
            o["adj_area"] = (from_wkb(pdf["geometry"].tolist()).area()
                             - corr).round(6)
            yield o

    return parts.select("band", "geometry").mapInPandas(
        kernel, schema="band long, adj_area double")


# ==========================================================================
# small_jobs: job-latency-bound layers, run in traced runs only
# ==========================================================================
class SmallJobs:
    """``cleaning.coverage_clean``, ``network.od_cost_matrix``,
    ``textops.near_dup_pairs`` and ``vecops.cosine_topk_lsh`` on small
    fixed tables.  Kernels do little here; per-job latency, driver probes
    and materialisation set the time.

    The inputs do not depend on the seed:

    * ``documents``: N_TEXT texts of 30-69 words from a 500-word vocabulary;
      every tenth is its predecessor with one word replaced, so near
      duplicates exist;
    * ``embeddings``: N_VEC integer-valued 64-d vectors (stored / 1000) in
      clusters of 10 around random centres, so every true top-5 neighbour
      shares an LSH bucket with its vector;
    * ``supplier``: keys 1..N_NODES, the ``_supplier_graph`` road graph;
    * ``nation``: keys 0..24, the ``_coverage_fixture`` dirty coverage.

    This section runs only in traced runs of the host workload: run in
    every pass, its ~10 s (warm) would not fit the benchmark's run-time
    budget (see README.md).
    """

    name = "small_jobs"
    N_TEXT = 300
    N_VEC = 300
    N_NODES = 200
    LSH_TABLES = 8

    def make_inputs(self, d: str):
        rng = np.random.default_rng(0)
        vocab = np.array([f"w{i:03d}" for i in range(500)])
        texts = []
        for i in range(self.N_TEXT):
            if i % 10 == 9:
                words = texts[-1].split()
                words[int(rng.integers(0, len(words)))] = "zz"
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(rng.choice(vocab,
                                                 int(rng.integers(30, 70)))))
        pq.write_table(pa.table({
            "doc_id": np.arange(self.N_TEXT, dtype=np.int64),
            "text": texts}), f"{d}/documents.parquet")
        centres = rng.integers(-1000, 1001, (self.N_VEC // 10, 64))
        vecs = np.clip(np.repeat(centres, 10, axis=0)
                       + rng.integers(-150, 151, (self.N_VEC, 64)),
                       -1000, 1000)
        pq.write_table(pa.table({
            "vec_id": np.arange(self.N_VEC, dtype=np.int64),
            "embedding": pa.array(list((vecs / 1000).astype(np.float32)),
                                  type=pa.list_(pa.float32()))}),
            f"{d}/embeddings.parquet")
        pq.write_table(pa.table({
            "s_suppkey": np.arange(1, self.N_NODES + 1, dtype=np.int64)}),
            f"{d}/supplier.parquet")
        pq.write_table(pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32)}),
            f"{d}/nation.parquet")

    def expected(self, d: str) -> dict:
        from __spark_entry__ import oracle_sql
        q = oracle_sql()
        con = _duck({t: f"SELECT * FROM read_parquet('{d}/{t}.parquet')"
                     for t in ("documents", "embeddings", "supplier",
                               "nation")})
        return {
            "near_dup": _duck_fingerprint(
                con, f"SELECT *, round(jaccard * 1000000) AS j "
                     f"FROM ({q['near_dup_pairs']})", "a * 1000003 + b", "j"),
            "topk": _duck_fingerprint(
                con, f"SELECT *, round(sim * 1000000) AS s "
                     f"FROM ({q['ann_lsh']})",
                "vec_id * 1000003 + neighbor_id * 11 + k_rank", "s"),
            "od": _duck_fingerprint(con, q["route_costs"], "did", "cost"),
            "coverage": _duck_fingerprint(con, q["coverage_clean"], "pid",
                                          "area"),
        }

    def register(self, spark, d: str) -> dict:
        return {"dir": d,
                "docs": spark.read.parquet(f"{d}/documents.parquet"),
                "vecs": spark.read.parquet(f"{d}/embeddings.parquet")}

    def run_pass(self, spark, inp: dict, tr) -> dict:
        from __spark_entry__ import (_area_rows, _coverage_fixture,
                                     _supplier_graph)
        from sgspark.cleaning import coverage_clean
        from sgspark.network import od_cost_matrix
        from sgspark.textops import near_dup_pairs
        from sgspark.vecops import cosine_topk_lsh

        d = inp["dir"]
        with tr.span("textops.near_dup_pairs") as sp:
            dups = sp.out(near_dup_pairs(inp["docs"], threshold=0.5))
        with tr.span("vecops.cosine_topk_lsh") as sp:
            topk = sp.out(cosine_topk_lsh(inp["vecs"], 5, n_bits=2,
                                          n_tables=self.LSH_TABLES))
        with tr.span("network.od_cost_matrix") as sp:
            od = sp.out(od_cost_matrix(
                _supplier_graph(spark, d),
                spark.createDataFrame(pd.DataFrame({"oid": ["o1"],
                                                    "node": ["1"]})),
                spark.read.parquet(f"{d}/supplier.parquet").selectExpr(
                    "cast(s_suppkey as long) AS did",
                    "cast(s_suppkey as string) AS node"),
                max_iter=30))
        with tr.span("cleaning.coverage_clean") as sp:
            cov = sp.out(coverage_clean(_coverage_fixture(spark, d), 3.0,
                                        id_col="pid", gridsize=300.0))
        with tr.span("bench.check"):
            return {
                "near_dup": _fingerprint(
                    dups.selectExpr("a", "b", "round(jaccard * 1000000) AS j"),
                    "a * 1000003 + b", "j"),
                "topk": _fingerprint(
                    topk.selectExpr("vec_id", "neighbor_id", "k_rank",
                                    "round(sim * 1000000) AS s"),
                    "vec_id * 1000003 + neighbor_id * 11 + k_rank", "s"),
                "od": _fingerprint(od.selectExpr(
                    "did", "cast(cost as double) AS cost"), "did", "cost"),
                "coverage": _fingerprint(
                    _area_rows(cov.select("pid", "geometry"), ["pid"]),
                    "pid", "area"),
            }


WORKLOADS = {w.name: w for w in (DocsJoin(), PolygonAlgebra())}
# sections that run only in traced runs of the named workload
TRACED_ONLY = {"polygon_algebra": SmallJobs()}
