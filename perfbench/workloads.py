"""The benchmark's workloads: inputs made from the seed, one timed operation
through the package's public functions, a traced variant of it, and the
checks on every output.

* ``build``  — ``pipeline.build_graph`` over a pre-materialized
  default-corpus crawl (extraction, canonicalization, node/edge merge).
  Its traced run also drives one small closed-loop update/query client
  (``update_graph_incremental`` + ``query_graph`` + ``khop_distances``)
  for the upsert, index and query layers.
* ``curate`` — ``operators.curation.curate_corpus`` over the repository's
  sf0.1 documents table (a copy in ``data/``) with crawl URLs and
  timestamps derived from the seed; no KG work at all.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUILD_PAGES = 20000
ORACLE_PAGES = 400
UQ_BASE_PAGES = 600
UQ_DELTA_PAGES = 60
UQ_ROUNDS = 2
PROVENANCE_CAP = 2048  # max_chunks / max_prop_vals, as a web-scale build sets

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")

# -- order-insensitive table digest -------------------------------------------


def _canon(col, dtype):
    """A column whose value does not depend on array or map order."""
    if isinstance(dtype, T.ArrayType):
        if isinstance(dtype.elementType, (T.ArrayType, T.MapType)):
            col = F.transform(col, lambda x: _canon(x, dtype.elementType))
        return F.array_sort(col)
    if isinstance(dtype, T.MapType):
        if isinstance(dtype.valueType, (T.ArrayType, T.MapType)):
            col = F.transform_values(
                col, lambda _k, v: _canon(v, dtype.valueType))
        return F.to_json(F.array_sort(F.map_entries(col)))
    return col


def digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive content hash) in one job."""
    h = F.xxhash64(*[_canon(F.col(f.name), f.dataType)
                     for f in df.schema.fields])
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.pmod(h, F.lit(2147483647))).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def load_expected(workload: str, seed: int) -> dict | None:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh).get(workload, {}).get("seeds", {}).get(str(seed))


class Workload:
    """One workload in one Spark session. ``op`` returns (check values,
    items of work done); ``traced_op`` does the same under a tracer."""

    name = ""
    layers: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.expected = load_expected(self.name, seed)
        self.reference: dict | None = None

    def check(self, values: dict) -> list[str]:
        """Mismatches against the pinned values for this seed and against
        the first output of this run (every operation must agree)."""
        bad = []
        for ref, label in ((self.expected, "pinned"),
                           (self.reference, "first op")):
            for k, v in (ref or {}).items():
                if values.get(k) != v:
                    bad.append(f"{k}={values.get(k)} vs {label} {v}")
        if self.reference is None:
            self.reference = dict(values)
        return bad

    def final_checks(self) -> list[str]:
        return []

    def extra_trace(self, tracer) -> tuple[dict, int, int]:
        return {}, 0, 0


# -- build --------------------------------------------------------------------


class Build(Workload):
    name = "build"
    layers = ("build", "extraction", "canonicalize", "merge")

    def make_inputs(self) -> None:
        from knowledge_graph_studio_spark.session import size_input_splits
        from knowledge_graph_studio_spark.sources.pages import synthetic_pages

        self.pages = os.path.join(self.work, "pages")
        synthetic_pages(self.spark, BUILD_PAGES, seed=self.seed,
                        partitions=2 * self.cores) \
            .write.mode("overwrite").parquet(self.pages)
        size_input_splits(self.spark, self.pages)

    def _read(self) -> DataFrame:
        return self.spark.read.parquet(self.pages)

    @staticmethod
    def _values(t, e, n) -> dict:
        return {"triples": t[0], "triples_hash": t[1], "edges": e[0],
                "edges_hash": e[1], "nodes": n[0], "nodes_hash": n[1]}

    def op(self) -> tuple[dict, int]:
        from knowledge_graph_studio_spark.pipeline import build_graph

        out = build_graph(self.spark, self._read(),
                          max_chunks=PROVENANCE_CAP,
                          max_prop_vals=PROVENANCE_CAP)
        # edges before nodes: the edge job materializes the nodes
        # checkpoint, so the nodes digest is a cached read
        t, e, n = (digest(out["triples"]), digest(out["edges"]),
                   digest(out["nodes"]))
        self.last_triples = out["triples"]
        return self._values(t, e, n), t[0]

    def traced_op(self, tracer) -> tuple[dict, int, dict]:
        """The build_graph lineage staged with an action at each layer
        boundary, so each layer's jobs run inside its own span."""
        from knowledge_graph_studio_spark.operators.linking import (
            apply_canonical_mapping, build_edges, build_nodes,
            canonical_mapping,
        )
        from knowledge_graph_studio_spark.pipeline import triples_from_pages

        cap = dict(max_chunks=PROVENANCE_CAP, max_prop_vals=PROVENANCE_CAP)
        with tracer.span("build", new_trace=True):
            with tracer.span("extraction"):
                triples = triples_from_pages(
                    self.spark, self._read()).localCheckpoint()
                t = digest(triples)
            with tracer.span("canonicalize"):
                mapping = canonical_mapping(triples, alias_df=None,
                                            fuzzy=True)
                canon = triples if mapping.isEmpty() else \
                    apply_canonical_mapping(triples, mapping).localCheckpoint()
            with tracer.span("merge"):
                nodes = build_nodes(canon, **cap).localCheckpoint(eager=False)
                edges = build_edges(canon, nodes, **cap)
                e, n = digest(edges), digest(nodes)
        tracer.untraced()
        self.last_triples = triples
        counts = {"extraction.triples": t[0],
                  "canonicalize.mapping_rows": mapping.count(),
                  "merge.nodes": n[0], "merge.edges": e[0]}
        return self._values(t, e, n), t[0], counts

    def final_checks(self) -> list[str]:
        """Cross-check the triples extracted from the first ORACLE_PAGES
        pages, as (url, relation) pairs, against the pure-Python
        extraction oracle."""
        if self.reference is None:  # no operation succeeded
            return []
        from collections import Counter

        from knowledge_graph_studio_spark.corpus import expected_triples

        want = Counter((t["url"], t["relation"]) for t in
                       expected_triples(ORACLE_PAGES, self.seed))
        bound = f"https://example.org/{self.seed}/{ORACLE_PAGES:010d}"
        got = Counter(
            (r["url"], r["relation"]) for r in self.last_triples
            .filter(F.col("url") < bound).select("url", "relation")
            .collect())
        return [] if got == want else [
            f"triples of the first {ORACLE_PAGES} pages differ from the "
            f"oracle ({sum(got.values())} vs {sum(want.values())})"]

    def extra_trace(self, tracer) -> tuple[dict, int, int]:
        return update_query_trace(self.spark, tracer, self.work, self.seed,
                                  self.cores)


def update_query_trace(spark, tracer, work: str, seed: int,
                       cores: int) -> tuple[dict, int, int]:
    """One closed-loop client on a high-cardinality Zipf graph: each round
    upserts one new crawl segment (ANN index refreshed), then issues one
    structured, one text top-k and one 2-hop query against the new
    version. Returns (metrics, attempted, failed)."""
    from knowledge_graph_studio_spark import pipeline
    from knowledge_graph_studio_spark.corpus import zipf_config
    from knowledge_graph_studio_spark.plans.query import (
        EdgeAnnIndex, QueryParameters, khop_distances, query_graph,
    )
    from knowledge_graph_studio_spark.sources.pages import (
        synthetic_pages_zipf,
    )

    schema, gaz, (people, companies, _cities) = zipf_config()
    root = os.path.join(work, "update_query")
    pages, hold, wd = (os.path.join(root, d) for d in ("pages", "hold", "wd"))
    for r in range(UQ_ROUNDS + 1):
        n = UQ_DELTA_PAGES if r else UQ_BASE_PAGES
        synthetic_pages_zipf(spark, n, seed=seed * 100 + r, alpha=1.1,
                             partitions=cores) \
            .write.parquet(os.path.join(pages if r == 0 else hold,
                                        f"segment=s{r:03d}"))
    kw = dict(schema=schema, gazetteer=gaz, rules=[],
              max_chunks=PROVENANCE_CAP, max_prop_vals=PROVENANCE_CAP,
              ann_index=True)
    base = pipeline.update_graph_incremental(spark, pages, wd, **kw)
    sizes = [(base["nodes"].count(), base["edges"].count())]

    def structured(nodes, edges, _idx):
        out = query_graph(nodes, edges, QueryParameters(
            entities=["person"], relations=["runs"], values=people[:3]))
        return out["triples"].select("edge_id")

    def text(nodes, edges, idx):
        out = query_graph(nodes, edges, QueryParameters(
            content=f"who runs {companies[0]}?", relations=["runs"],
            limit=16), ann_index=idx, ann_exact_max_rows=0)
        return out["triples"].select("edge_id")

    def khop(nodes, edges, _idx):
        seeds = [r[0] for r in nodes.filter(F.col("name").isin(people[:2]))
                 .select("node_id").collect()]
        return khop_distances(edges, seeds, max_hops=2, src="head_id",
                              dst="tail_id")

    for attr, layer in (("triples_from_pages", "extraction"),
                        ("build_nodes", "merge"), ("build_edges", "merge"),
                        ("upsert_nodes", "upsert"), ("upsert_edges", "upsert"),
                        ("refresh_ann_index", "index")):
        tracer.wrap(pipeline, attr, layer)
    walls, failed, attempted, traces = [], 0, 0, []
    try:
        for r in range(1, UQ_ROUNDS + 1):
            os.rename(os.path.join(hold, f"segment=s{r:03d}"),
                      os.path.join(pages, f"segment=s{r:03d}"))
            with tracer.span("pipeline", new_trace=True) as sp:
                v = pipeline.update_graph_incremental(spark, pages, wd, **kw)
            traces.append(tracer.trace_id)
            walls.append(sp["end"] - sp["start"])
            tracer.untraced()
            sizes.append((v["nodes"].count(), v["edges"].count()))
            attempted += 1
            # a new segment only adds: the graph never shrinks
            failed += int(sizes[-1][0] < sizes[-2][0]
                          or sizes[-1][1] <= sizes[-2][1])
            idx = EdgeAnnIndex.load(spark, os.path.join(wd, "ann_index"))
            for cls, fn in (("structured", structured), ("text", text),
                            ("khop", khop)):
                with tracer.span(f"query.{cls}"):
                    with tracer.span(f"query.{cls}.construct"):
                        df = fn(v["nodes"], v["edges"], idx)
                    with tracer.span(f"query.{cls}.execute"):
                        rows = df.collect()
                attempted += 1
                failed += int(not rows)
            tracer.untraced()
    finally:
        tracer.unwrap_all()
    tracer.harvest()
    tot = tracer.layer_totals(set(traces))
    k = len(traces)
    metrics = {"update_query.update_s": statistics.median(walls),
               "update_query.round_growth": walls[-1] / walls[0],
               "pipeline.self_s": tot.get("pipeline", {}).get("self_s", 0) / k}
    for layer in ("upsert", "index"):
        for key, v in tot.get(layer, {}).items():
            metrics[f"{layer}.{key}"] = v / k
    for cls in ("structured", "text", "khop"):
        for part in ("construct", "execute"):
            metrics[f"query.{cls}.{part}_s"] = tot.get(
                f"query.{cls}.{part}", {}).get("self_s", 0) / k
        metrics[f"query.{cls}.jobs"] = sum(
            tot.get(f"query.{cls}{p}", {}).get("jobs", 0)
            for p in ("", ".construct", ".execute")) / k
    return metrics, attempted, failed


# -- curate -------------------------------------------------------------------

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")
CURATION_WRAPS = (
    ("curation", "canonicalize_urls", "cleaning"),
    ("curation", "decontaminate", "cleaning"),
    ("cleaning", "domain_filter", "cleaning"),
    ("cleaning", "redacted_text_col", "cleaning"),
    ("curation", "gopher_filter", "textstats"),
    ("curation", "gopher_repetition", "textstats"),
    ("dedup", "neardup_dedup", "dedup"),
    ("curation", "sample_mix", "sampling"),
    ("sampling", "fit_dsir", "sampling"),
    ("sampling", "dsir_scores", "sampling"),
    ("sampling", "dsir_select", "sampling"),
)
# the layer that owns each stage curate_corpus seals (its ``_seal`` names)
SEAL_LAYERS = {
    "domain_filter": "cleaning", "url_dedup": "dedup",
    "exact_dedup": "dedup", "gopher_quality": "textstats",
    "gopher_repetition": "textstats", "fuzzy_dedup": "dedup",
    "decontaminated": "cleaning", "pii_redacted": "cleaning",
    "dsir_selected": "sampling", "mixed": "sampling",
}
FUNNEL_STAGES = ("input", "domain_filter", "url_dedup", "exact_dedup",
                 "gopher_quality", "gopher_repetition", "fuzzy_dedup",
                 "decontaminated", "pii_redacted", "dsir_selected", "mixed")


class Curate(Workload):
    name = "curate"
    layers = ("curation", "cleaning", "textstats", "dedup", "sampling")

    def make_inputs(self) -> None:
        """The repository's documents table (sf0.1, 5000 docs) as a crawl:
        URLs and capture timestamps derived from doc_id and the seed. A
        seeded permutation of the ids folds 10% of the docs onto the URLs
        of others (crawl-variant captures for keep-latest URL dedup), and
        a seeded hash orders the captures in time."""
        docs = self.spark.read.parquet(DOCUMENTS)
        n = docs.count()
        slot = F.pmod(F.col("doc_id") * 7919 + F.lit(self.seed * 104729),
                      F.lit(n))
        uid = slot % (n * 9 // 10)
        crawl = docs.select(
            "doc_id", "text", "lang",
            F.concat(F.lit("http://h"), (uid % 13).cast("string"),
                     F.lit(".dom"), (uid % 97).cast("string"),
                     F.lit(".com/p/"), uid.cast("string")).alias("url"),
            F.timestamp_seconds(F.lit(1700000000) + F.pmod(
                F.xxhash64("doc_id", F.lit(self.seed)), F.lit(10 ** 7)))
            .alias("warc_ts"))
        self.n_docs = n
        self.crawl_path = os.path.join(self.work, "crawl")
        crawl.write.mode("overwrite").parquet(self.crawl_path)

    def _curate(self) -> dict:
        """The repository's headline curation funnel, as bench.py composes
        it: domain blocklist, keep-latest URL dedup, exact dedup, Gopher
        quality and repetition, fuzzy dedup, decontamination, PII
        redaction, DSIR selection and the language mix. The text rewriters
        (boilerplate, span dedup) and sequence packing are left out to fit
        the run-time budget."""
        from knowledge_graph_studio_spark.operators.curation import (
            curate_corpus,
        )

        spark, n, seed = self.spark, self.n_docs, self.seed
        crawl = spark.read.parquet(self.crawl_path)
        blocked = spark.createDataFrame([("dom13.com",), ("h7.dom29.com",)],
                                        "domain string")
        return curate_corpus(
            crawl, url_col="url", ts_col="warc_ts",
            eval_df=crawl.filter((F.col("doc_id") + seed) % 31 == 5)
            .select(F.substring("text", 1, 120).alias("text")),
            blocked_domains=blocked, fuzzy_dedup=True,
            clean_text_stages=False,
            mix_rates={"en": 1.0, "de": 0.8, "fr": 0.6, "es": 0.5, "zh": 0.4},
            stratum_col="lang",
            dsir_target=crawl.filter(F.col("lang") == "en")
            .filter((F.col("doc_id") + seed) % 7 == 0).select("text"),
            dsir_top_n=n // 3, dsir_kwargs={"n_buckets": 4096},
            # short word-salad docs: the paper's web thresholds would
            # empty the funnel
            gopher_kwargs={"min_words": 10, "min_stop_hits": 1})

    def op(self) -> tuple[dict, int]:
        n, h = digest(self._curate()["docs"])
        return {"docs_out": n, "docs_hash": h}, self.n_docs

    def traced_op(self, tracer) -> tuple[dict, int, dict]:
        """curate_corpus with its operator calls wrapped and every stage
        seal made eager inside the segment of the layer that owns the
        stage, so the lazy funnel's work is charged where it is planned."""
        from knowledge_graph_studio_spark.operators import (
            cleaning, curation, dedup, sampling,
        )

        mods = {"curation": curation, "cleaning": cleaning, "dedup": dedup,
                "sampling": sampling}
        for mod, attr, layer in CURATION_WRAPS:
            tracer.wrap(mods[mod], attr, layer)
        local_checkpoint = DataFrame.localCheckpoint

        def seal(df, eager=True, storageLevel=None):
            caller = sys._getframe(1)
            if caller.f_code.co_filename != curation.__file__ \
                    or caller.f_code.co_name != "_ck":
                return local_checkpoint(df, eager, storageLevel)
            tracer.enter_segment(SEAL_LAYERS[caller.f_locals["name"]])
            return local_checkpoint(df, True, storageLevel)

        tracer.patch(DataFrame, "localCheckpoint", seal)
        try:
            with tracer.span("curation", new_trace=True):
                out = self._curate()
        finally:
            tracer.unwrap_all()
            tracer.untraced()
        n, h = digest(out["docs"])
        rows = dict(curation.curation_funnel(out["stages"]))
        counts = {f"curation.rows.{s}": rows.get(s, 0) for s in FUNNEL_STAGES}
        return {"docs_out": n, "docs_hash": h}, self.n_docs, counts


WORKLOADS = {w.name: w for w in (Build, Curate)}
