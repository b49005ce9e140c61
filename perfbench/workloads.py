"""The benchmark's workloads.

Each workload owns its inputs and their scale, its set-up (mapping
parse, source registration), its warm-up, one timed operation, a DuckDB
oracle for every operation's output, and, for the traced run, a
decomposition into per-layer figures.

  kg_materialize  graph-materialization mode.  One operation writes two
                  mappings to their own parquet sinks through
                  materialize_auto:
                    kg_tabular    TPCH_KG_MAPPING: scan, native tier,
                                  ROM joins, sink; no JSON, no Python,
                                  dedup eliminated;
                    kg_documents  the order-document corpus through one
                                  JSON-native TM and one Python-tier TM;
                                  JSON parse, Python translation and a
                                  live dedup exchange; native tier idle.
  sparql_mix      query-rewriting mode.  A seeded stream of SPARQL
                  SELECTs through answer_auto, one client in a closed
                  loop; reads only, writes nothing.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import duckdb
import numpy as np
import pyarrow.parquet as pq

import datagen

from morph_xr2rml_spark.api import answer_auto, materialize_auto
from morph_xr2rml_spark.examples import (GRAPH_KG_MAPPING, LINEITEM_JSON_MAPPING,
                                         MIXED_KG_MAPPING, TPCH_KG_MAPPING,
                                         kg_lineitem_json_oracle_sql,
                                         kg_tpch_oracle_sql, orderflat_catalog,
                                         tpch_tables)
from morph_xr2rml_spark.model import MappingDocument
from morph_xr2rml_spark.native import is_tabular_compilable
from morph_xr2rml_spark.native_json import JsonNativeCompiler
from morph_xr2rml_spark.native_json import compilable as json_compilable
from morph_xr2rml_spark.sources import SourceCatalog

XSD = "http://www.w3.org/2001/XMLSchema#"
EXO = "http://example.org/"
TABLES = ("region", "nation", "customer", "orders", "lineitem")
WARMUP_SCALE = 0.001

# <#Lines> is LINEITEM_JSON_MAPPING's triples map (static paths: the
# JSON-native tier).  <#OrderQty> uses a nested term map, which
# native_json.compilable refuses, so materialize_auto routes it to the
# Arrow/Python document engine.  Its multi-valued reference repeats a
# quantity an order lists twice, so the global dedup stays live.
DOCUMENT_MAPPING = LINEITEM_JSON_MAPPING + """
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
<#OrderQty>
    a rr:TriplesMap;
    xrr:logicalSource [ xrr:query "db.orderdocs.find({})" ];
    rr:subjectMap [ rr:template "http://example.org/order/{$.ok}" ];
    rr:predicateObjectMap [ rr:predicate ex:lineQty;
        rr:objectMap [ xrr:reference "$.lines.*.qty";
                       xrr:nestedTermMap [ rr:termType rr:Literal;
                                           rr:datatype xsd:integer ] ] ].
"""

ORDER_QTY_ORACLE_SQL = f"""
SELECT '<{EXO}order/' || l_orderkey || '>', '<http://example.com/lineQty>',
       '"' || CAST(l_quantity AS BIGINT) || '"^^<{XSD}integer>',
       CAST(NULL AS VARCHAR)
FROM lineitem"""


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    mode = ""         # "materialize" or "query"
    round_len = 1     # ops per unit of the traced/untraced alternation
    rounds = 3        # fewest whole rounds an untraced run measures

    def __init__(self, tracer, work: str, seed: int):
        self.tracer = tracer
        self.work = work
        self.seed = seed

    def traced(self, i: int) -> bool:
        """Traced and untraced operations alternate by round, untraced
        first; tracing overhead is the difference of their medians."""
        return (i // self.round_len) % 2 == 1


class KgPart:
    """One mapping materialized to its own parquet sink."""
    name = ""
    mapping_text = ""

    def sources(self, spark, data_dir: str) -> dict:
        raise NotImplementedError

    def build(self, spark, src: dict, mapping, dedup: bool = True):
        raise NotImplementedError

    def catalog(self, src: dict) -> SourceCatalog:
        return SourceCatalog()

    def scan_frames(self, src: dict) -> dict:
        raise NotImplementedError

    def oracle_sql(self) -> str:
        raise NotImplementedError


class TabularPart(KgPart):
    """TPCH_KG_MAPPING: four TMs, three ROM joins, every TM with a
    uniqueRef, so materialize_auto drops the global dedup."""
    name = "kg_tabular"
    mapping_text = TPCH_KG_MAPPING
    # at 0.03 the operation took 1.8 s against 2.2 s at 0.1: fixed costs
    # dominated, so the tables are at the full 0.1
    scale = 0.1
    needs_docs = False

    def sources(self, spark, data_dir):
        return {"tables": tpch_tables(spark, data_dir)}

    def build(self, spark, src, mapping, dedup=True):
        return materialize_auto(spark, mapping, tables=dict(src["tables"]),
                                dedup=dedup)

    def scan_frames(self, src):
        return {n: df for n, df in src["tables"].items() if n != "lineitem"}

    def oracle_sql(self):
        return kg_tpch_oracle_sql()


class DocumentPart(KgPart):
    """DOCUMENT_MAPPING over the order-document corpus: one JSON-native
    TM and one Python-tier TM, global dedup live."""
    name = "kg_documents"
    mapping_text = DOCUMENT_MAPPING
    scale = 0.01
    needs_docs = True

    def sources(self, spark, data_dir):
        return {"corpus": spark.read.parquet(f"{data_dir}/orderdocs.parquet")}

    def catalog(self, src):
        # a fresh catalog per materialization: schema sampling is not
        # carried over from one timed operation to the next
        return SourceCatalog().register_collection("orderdocs", src["corpus"])

    def build(self, spark, src, mapping, dedup=True):
        return materialize_auto(spark, mapping, catalog=self.catalog(src),
                                dedup=dedup)

    def scan_frames(self, src):
        return {"orderdocs": src["corpus"]}

    def oracle_sql(self):
        return f"{kg_lineitem_json_oracle_sql()}\nUNION\n{ORDER_QTY_ORACLE_SQL}"


class KgMaterialize(Workload):
    """One operation materializes both parts, each to its own parquet
    sink; ``items`` = distinct triples written over both."""
    name = "kg_materialize"
    mode = "materialize"
    parts = (TabularPart(), DocumentPart())

    def generate(self, root: str, scale: float | None) -> dict:
        return {p.name: datagen.generate(os.path.join(root, p.name),
                                         scale or p.scale, self.seed,
                                         docs=p.needs_docs)
                for p in self.parts}

    def setup(self, spark, root: str) -> None:
        tr = self.tracer
        with tr.span("turtle.parse"):
            self.mappings = {p.name: MappingDocument.from_text(p.mapping_text)
                             for p in self.parts}
        with tr.span("sources.register", spark=spark):
            self.src = {p.name: p.sources(spark, os.path.join(root, p.name))
                        for p in self.parts}
        self.root = root

    def warmup(self, spark) -> None:
        """Two untimed operations on the real inputs: the same plans at
        the same sizes as the timed ones.  After only one, the first
        timed operation ran about 1.4x the later ones.  Their sink
        outputs go with the work directory when the run ends."""
        for i in (-2, -1):
            self.op(spark, i)

    def op(self, spark, i: int) -> dict:
        tr = self.tracer
        outs, part_ms = {}, {}
        with tr.span("op", i=i):
            for p in self.parts:
                out = os.path.join(self.work, "sink", f"op{i}", p.name)
                t0 = time.perf_counter()
                with tr.span(p.name):
                    with tr.span("api.materialize_auto", spark=spark):
                        df = p.build(spark, self.src[p.name],
                                     self.mappings[p.name])
                    with tr.span("sink.parquet_write", spark=spark):
                        df.write.mode("overwrite").parquet(out)
                part_ms[p.name] = (time.perf_counter() - t0) * 1e3
                outs[p.name] = out
        return {"out": outs, "part_ms": part_ms}

    def check(self, results: list[dict]) -> None:
        """Take the set difference both ways between each sink output and
        its oracle triple set; sets ``items`` (triples written) and, on a
        difference, ``error``.  With both differences empty, a row count
        above the oracle's means duplicate triples."""
        todo = [r for r in results if not r.get("error")]
        for r in todo:
            r["items"] = 0
        for p in self.parts:
            con = duck(os.path.join(self.root, p.name))
            con.execute(f"CREATE TABLE want AS {p.oracle_sql()}")
            want = con.execute("SELECT count(*) FROM want").fetchone()[0]
            for r in todo:
                if r.get("error"):
                    continue
                try:
                    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT subj, "
                                f"pred, obj, graph FROM "
                                f"'{r['out'][p.name]}/*.parquet'")
                    extra, missing, rows = con.execute(
                        "SELECT (SELECT count(*) FROM (FROM got EXCEPT FROM want)),"
                        " (SELECT count(*) FROM (FROM want EXCEPT FROM got)),"
                        " (SELECT count(*) FROM got)").fetchone()
                except duckdb.Error as e:
                    r["error"] = f"oracle: {p.name} sink unreadable: {e}"
                    continue
                r["items"] += rows
                if extra or missing or rows != want:
                    r["error"] = (f"oracle: {p.name}: {extra} extra, "
                                  f"{missing} missing, {rows} rows written "
                                  f"for {want} oracle triples")
            con.close()
        # the first correct output stays for the decomposition
        kept = next((r for r in todo if not r.get("error")), None)
        for r in results:
            if r is not kept:
                for out in r.get("out", {}).values():
                    shutil.rmtree(out, ignore_errors=True)

    # -- traced decomposition ------------------------------------------
    def _timed(self, spark, name: str, df_fn) -> tuple[float, dict]:
        """Noop-sink run of a freshly built plan, under its own span."""
        with self.tracer.span(name, spark=spark) as s:
            _noop(df_fn())
        return s["end"] - s["start"], s["counts"]

    def _tiers(self, spark, p: KgPart, mapping) -> dict[str, list[str]]:
        """Which tier materialize_auto routes each TM to, decided with
        the public predicates it uses; times the JSON schema sampling."""
        tables = self.src[p.name].get("tables", {})
        jc = JsonNativeCompiler(spark, mapping, p.catalog(self.src[p.name]))
        tiers = {"native": [], "native_json": [], "engine": []}
        for name, tm in mapping.triples_maps.items():
            if is_tabular_compilable(tm) and (
                    tm.logical_source.kind != "table"
                    or tm.logical_source.value in tables):
                tiers["native"].append(name)
            elif json_compilable(tm):
                with self.tracer.span("native_json.unsafe_paths") as s:
                    unsafe = jc.unsafe_paths(tm)
                self.sample_ms += (s["end"] - s["start"]) * 1e3
                tiers["native_json" if not unsafe else "engine"].append(name)
            else:
                tiers["engine"].append(name)
        return tiers

    @staticmethod
    def _subset(mapping, names: list[str]) -> MappingDocument:
        keep = set(names)
        for n in names:
            for pom in mapping.triples_maps[n].predicate_object_maps:
                keep.update(rom.parent_tm for rom in pom.ref_object_maps)
        return MappingDocument({n: tm for n, tm in mapping.triples_maps.items()
                                if n in keep}, mapping.prefixes)

    def decompose(self, spark, results: list[dict]) -> dict:
        first = next(r for r in results if not r.get("error"))
        traced = [r for r in results if r["traced"] and not r.get("error")]
        self.sample_ms = 0.0
        m = {"sources.scan_s": 0.0, "native.translate_s": 0.0,
             "native.join_shuffle_mb": 0.0, "native_json.translate_s": 0.0,
             "engine.translate_s": 0.0, "engine.dedup_s": 0.0}
        dedup_bytes = dedup_emitted = emitted = noop_on = 0
        self.exact = {"triples": first["items"], "tiers": {}}
        for p in self.parts:
            src, mapping = self.src[p.name], self.mappings[p.name]
            scan_s = sum(self._timed(spark, f"sources.scan:{n}", lambda: df)[0]
                         for n, df in p.scan_frames(src).items())
            m["sources.scan_s"] += scan_s
            tiers = self._tiers(spark, p, mapping)
            self.exact["tiers"][p.name] = tiers
            t_off, c_off = self._timed(
                spark, f"noop.dedup_off:{p.name}",
                lambda: p.build(spark, src, mapping, dedup=False))
            t_on, c_on = self._timed(
                spark, f"noop.dedup_on:{p.name}",
                lambda: p.build(spark, src, mapping))
            noop_on += t_on
            for tier, names in tiers.items():
                if not names:
                    continue
                if len(names) == len(mapping.triples_maps):
                    t, c = t_off, c_off     # the whole mapping is this tier
                else:
                    sub = self._subset(mapping, names)
                    t, c = self._timed(
                        spark, f"noop.{tier}:{p.name}",
                        lambda: p.build(spark, src, sub, dedup=False))
                m[f"{tier}.translate_s"] += t - scan_s
                if tier == "native":
                    # dedup off: every exchange left is a ROM-join exchange
                    m["native.join_shuffle_mb"] += \
                        c["shuffle_write_bytes"] / 1e6
            with self.tracer.span(f"count.emitted:{p.name}", spark=spark):
                part_emitted = p.build(spark, src, mapping,
                                       dedup=False).count()
            emitted += part_emitted
            m["engine.dedup_s"] += t_on - t_off
            part_bytes = c_on["shuffle_write_bytes"] - \
                c_off["shuffle_write_bytes"]
            if part_bytes > 0:
                dedup_bytes += part_bytes
                dedup_emitted += part_emitted
            part_ms = [(s["end"] - s["start"]) * 1e3 for s in self.tracer.spans
                       if s["name"] == p.name and "end" in s]
            m[f"{p.name}.materialize_s"] = median(part_ms) / 1e3
        m["native_json.sample_ms"] = self.sample_ms
        m["sink.write_s"] = median([r["ms"] for r in traced]) / 1e3 - noop_on
        m["sink.bytes_per_triple"] = sum(
            _dir_bytes(o) for o in first["out"].values()) / first["items"]
        m["engine.dedup_shuffle_mb"] = dedup_bytes / 1e6
        # per triple entering a live dedup exchange
        m["engine.dedup_bytes_per_triple"] = dedup_bytes / max(1, dedup_emitted)
        m["engine.dedup_keep_ratio"] = first["items"] / emitted
        self.exact["emitted_triples"] = emitted
        return m

    def op_counts(self, spans: list[dict], ok: list[dict]) -> dict:
        """Counts of the first traced operation (both parts)."""
        op = next(s for s in spans if s["name"] == "op")
        parts = {s["id"] for s in spans if s["parent"] == op["id"]}
        mine = [s for s in spans if s["parent"] in parts]
        build = [s for s in mine if s["name"] == "api.materialize_auto"]

        def total(key):
            return sum(s["counts"][key] for s in mine)
        all_builds = [s for s in spans if s["name"] == "api.materialize_auto"]
        n_ops = sum(1 for s in spans if s["name"] == "op")
        return {
            "api.build_ms": sum((s["end"] - s["start"]) * 1e3
                                for s in all_builds) / max(1, n_ops),
            "api.jobs_at_build": sum(s["counts"]["jobs"] for s in build),
            "sources.input_rows": total("input_rows"),
            "sources.input_mb": total("scan_bytes") / 1e6,
            "engine.python_operators": total("python_operators"),
            "engine.python_mb": total("python_bytes") / 1e6,
            "engine.python_worker_s": total("python_worker_ms") / 1e3,
        }


# -- SPARQL stream ---------------------------------------------------------

PREFIX = "PREFIX ex: <http://example.com/>\n"
SHAPES = ("point_filter", "mixed_join", "group_agg", "join_agg",
          "subquery_topk", "graph_point")


def query_text(shape: str, c: tuple) -> str:
    if shape == "point_filter":
        return PREFIX + (
            f"SELECT ?o ?p WHERE {{ ?o ex:placedBy <{EXO}customer/{c[0]}> . "
            f"?o ex:totalPrice ?p . FILTER(?p > {c[1]:.1f}) }} ORDER BY ?o")
    if shape == "mixed_join":
        return PREFIX + (
            f'SELECT ?o ?c ?n WHERE {{ ?o ex:placedBy ?c ; ex:status "{c[0]}" .'
            f" ?c ex:name ?n ; ex:acctbal ?a . FILTER(?a > {c[1]:.1f}) }}")
    if shape == "group_agg":
        return PREFIX + (
            "SELECT ?seg (COUNT(*) AS ?n) (MIN(?b) AS ?lo) (MAX(?b) AS ?hi) "
            "WHERE { ?c ex:segment ?seg . ?c ex:acctbal ?b . "
            f"FILTER(?b > {c[0]:.1f}) }} GROUP BY ?seg ORDER BY ?seg")
    if shape == "join_agg":
        return PREFIX + (
            "SELECT ?seg (COUNT(?o) AS ?n) WHERE { ?o ex:placedBy ?c . "
            f'?o ex:status "{c[0]}" . ?c ex:segment ?seg }} '
            "GROUP BY ?seg ORDER BY ?seg")
    if shape == "subquery_topk":
        return PREFIX + (
            "SELECT ?name ?t WHERE { ?c ex:name ?name . "
            "{ SELECT ?c (MAX(?p) AS ?t) WHERE { ?o ex:placedBy ?c . "
            "?o ex:totalPrice ?p } GROUP BY ?c } } "
            f"ORDER BY DESC(?t) ?name LIMIT {c[0]}")
    if shape == "graph_point":
        return PREFIX + (
            f"SELECT ?s ?n WHERE {{ GRAPH <{EXO}g/{c[0]}> "
            "{ ?s ex:name ?n } } ORDER BY ?s")
    raise ValueError(shape)


def oracle_query(shape: str, c: tuple) -> str:
    dec = "CAST(o_totalprice AS DECIMAL(12,2))"
    bal = "CAST(c_acctbal AS DECIMAL(12,2))"
    if shape == "point_filter":
        return (f"SELECT '<{EXO}order/' || o_orderkey || '>', "
                f"'\"' || {dec} || '\"^^<{XSD}decimal>' FROM orders "
                f"WHERE o_custkey = {c[0]} AND {dec} > {c[1]}")
    if shape == "mixed_join":
        return (f"SELECT '<{EXO}odoc/' || o_orderkey || '>', "
                f"'<{EXO}customer/' || c_custkey || '>', "
                "'\"' || c_name || '\"' FROM orders JOIN customer "
                f"ON o_custkey = c_custkey WHERE o_orderstatus = '{c[0]}' "
                f"AND {bal} > {c[1]}")
    if shape == "group_agg":
        return ("SELECT '\"' || c_mktsegment || '\"', COUNT(*), "
                f"MIN(CAST({bal} AS DOUBLE)), MAX(CAST({bal} AS DOUBLE)) "
                f"FROM customer WHERE {bal} > {c[0]} GROUP BY c_mktsegment")
    if shape == "join_agg":
        return ("SELECT '\"' || c_mktsegment || '\"', COUNT(*) FROM orders "
                "JOIN customer ON o_custkey = c_custkey "
                f"WHERE o_orderstatus = '{c[0]}' GROUP BY c_mktsegment")
    if shape == "subquery_topk":
        return ("SELECT '\"' || c_name || '\"', t FROM customer JOIN "
                f"(SELECT o_custkey, MAX(CAST({dec} AS DOUBLE)) AS t "
                "FROM orders GROUP BY o_custkey) ON c_custkey = o_custkey "
                f"ORDER BY t DESC, c_name LIMIT {c[0]}")
    if shape == "graph_point":
        return (f"SELECT '<{EXO}nation/' || n_nationkey || '>', "
                f"'\"' || n_name || '\"' FROM nation WHERE n_regionkey = {c[0]}")
    raise ValueError(shape)


def _rows(rows) -> list[tuple]:
    return sorted(tuple(str(x) if x is not None else "" for x in r)
                  for r in rows)


class SparqlMix(Workload):
    """Closed loop, one client: each query is sent after the previous
    one's last row is collected.  Every round asks each shape once, in a
    seeded order, with a constant drawn from the shape's pool by a Zipf
    skew (s = 1.2), so some (shape, constant) pairs repeat."""
    name = "sparql_mix"
    mode = "query"
    rounds = 4
    scale = 0.01
    round_len = len(SHAPES)

    def pools(self, data_dir: str, rng) -> dict[str, list[tuple]]:
        cust = pq.read_table(f"{data_dir}/orders.parquet",
                             columns=["o_custkey"]).column(0).to_numpy()
        pools = {
            "point_filter": [(int(k), float(x)) for k, x in zip(
                rng.choice(np.unique(cust), 8, replace=False),
                rng.choice([50_000, 150_000, 250_000, 350_000], 8))],
            "mixed_join": [(s, t) for s in "FOP"
                           for t in (9_900.0, 9_950.0, 9_980.0)],
            "group_agg": [(float(t),) for t in
                          (-500, 0, 1_000, 2_500, 5_000, 7_500, 9_000, 9_500)],
            "join_agg": [(s,) for s in "FOP"],
            "subquery_topk": [(k,) for k in (5, 10, 15, 20, 25)],
            "graph_point": [(r,) for r in range(5)],
        }
        for v in pools.values():
            rng.shuffle(v)
        return pools

    def stream(self, data_dir: str, seed: int):
        rng = np.random.default_rng(seed)
        pools = self.pools(data_dir, rng)
        while True:
            for shape in rng.permutation(SHAPES):
                pool = pools[shape]
                p = 1.0 / np.arange(1, len(pool) + 1) ** 1.2
                yield shape, pool[rng.choice(len(pool), p=p / p.sum())]

    def sources(self, spark, data_dir: str) -> dict:
        tables = tpch_tables(spark, data_dir)
        return {"tables": tables,
                "mixed_tables": {"customer": tables["customer"]},
                "catalog": orderflat_catalog(spark, data_dir)}

    def generate(self, root: str, scale: float | None) -> dict:
        self.tiny_root = root + "-tiny"
        datagen.generate(self.tiny_root, WARMUP_SCALE, self.seed, docs=False)
        return datagen.generate(root, scale or self.scale, self.seed,
                                docs=False)

    def setup(self, spark, root: str) -> None:
        tr = self.tracer
        with tr.span("turtle.parse"):
            self.mappings = {
                "tpch": MappingDocument.from_text(TPCH_KG_MAPPING),
                "mixed": MappingDocument.from_text(MIXED_KG_MAPPING),
                "graph": MappingDocument.from_text(GRAPH_KG_MAPPING)}
        with tr.span("sources.register", spark=spark):
            self.src = self.sources(spark, root)
        self.root = root
        self.queries = self.stream(root, self.seed)

    def warmup(self, spark) -> None:
        """One query of every shape on tiny inputs.  Warming up on the
        real inputs would fill the caches (JSON schema samples, persisted
        find()-filtered sources) that the stream's own first queries
        must pay for."""
        tiny = self.sources(spark, self.tiny_root)
        stream = self.stream(self.tiny_root, self.seed)
        seen = set()
        while len(seen) < len(SHAPES):
            shape, c = next(stream)
            if shape not in seen:
                seen.add(shape)
                self.answer(spark, tiny, shape, c).collect()

    def answer(self, spark, src: dict, shape: str, c: tuple):
        text = query_text(shape, c)
        if shape == "mixed_join":
            return answer_auto(spark, self.mappings["mixed"], text,
                               catalog=src["catalog"],
                               tables=src["mixed_tables"])
        mapping = self.mappings["graph" if shape == "graph_point" else "tpch"]
        return answer_auto(spark, mapping, text, tables=src["tables"])

    def op(self, spark, i: int) -> dict:
        shape, c = next(self.queries)
        tr = self.tracer
        with tr.span("op", i=i, shape=shape):
            with tr.span("api.answer_auto", spark=spark):
                df = self.answer(spark, self.src, shape, c)
            with tr.span("collect", spark=spark):
                rows = df.collect()
        return {"shape": shape, "const": c, "rows": rows}

    def check(self, results: list[dict]) -> None:
        con = duck(self.root)
        want: dict = {}
        for r in results:
            if r.get("error"):
                continue
            key = (r["shape"], r["const"])
            if key not in want:
                want[key] = _rows(con.execute(oracle_query(*key)).fetchall())
            got = _rows(r.pop("rows"))
            r["items"] = len(got)
            if got != want[key]:
                diff = sorted(set(got) ^ set(want[key]))[:2]
                r["error"] = (f"oracle: {r['shape']}{r['const']} returned "
                              f"{len(got)} rows, oracle {len(want[key])}; "
                              f"first difference {diff}")
        con.close()

    def decompose(self, spark, results: list[dict]) -> dict:
        scan_s = 0.0
        frames = {n: self.src["tables"][n]
                  for n in ("region", "nation", "customer", "orders")}
        mixed = self.mappings["mixed"]
        order_ls = mixed.triples_maps["#MOrder"].logical_source
        frames["orderflat"] = self.src["catalog"].resolve(order_ls)[0]
        for n, df in frames.items():
            with self.tracer.span(f"sources.scan:{n}", spark=spark) as s:
                _noop(df)
            scan_s += s["end"] - s["start"]
        # the sampling a first query over a newly registered collection
        # pays (the session's catalog has it cached by now)
        fresh = SourceCatalog().register_collection("orderflat",
                                                    frames["orderflat"])
        jc = JsonNativeCompiler(spark, mixed, fresh)
        with self.tracer.span("native_json.unsafe_paths") as s:
            jc.unsafe_paths(mixed.triples_maps["#MOrder"])
        return {"sources.scan_s": scan_s,
                "native_json.sample_ms": (s["end"] - s["start"]) * 1e3}

    def op_counts(self, spans: list[dict], ok: list[dict]) -> dict:
        """Medians over the traced queries; counts of the first traced
        round, which repeat exactly."""
        ops = [s for s in spans if s["name"] == "op"]
        first_round = {s["id"] for s in ops[:self.round_len]}
        build = [s for s in spans if s["name"] == "api.answer_auto"]
        coll = [s for s in spans if s["name"] == "collect"]
        first = [s for s in build + coll if s["parent"] in first_round]

        def first_total(key):
            return sum(s["counts"][key] for s in first)
        result_rows = sum(r["items"] for r in ok if r["traced"])
        return {
            "rewrite.build_ms": median((s["end"] - s["start"]) * 1e3
                                       for s in build),
            "rewrite.exec_ms": median((s["end"] - s["start"]) * 1e3
                                      for s in coll),
            "rewrite.rows_scanned_per_result": sum(
                s["counts"]["input_rows"] for s in build + coll)
            / max(1, result_rows),
            "rewrite.shuffle_mb_per_query": sum(
                s["counts"]["shuffle_write_bytes"]
                for s in build + coll) / 1e6 / max(1, len(ops)),
            "api.jobs_at_build": sum(s["counts"]["jobs"] for s in first
                                     if s["name"] == "api.answer_auto"),
            "sources.input_rows": first_total("input_rows"),
            "sources.input_mb": first_total("scan_bytes") / 1e6,
            "engine.python_operators": first_total("python_operators"),
            "engine.python_mb": first_total("python_bytes") / 1e6,
            "engine.python_worker_s": first_total("python_worker_ms") / 1e3,
        }


WORKLOADS = {w.name: w for w in (KgMaterialize, SparqlMix)}
