"""The three crawl-rank workloads: inputs, pipeline, output check, layers.

Each workload

* ``prepare``s its inputs from ``(seed, size)`` -- the generator output plus
  the reference results, cached on disk by (seed, size);
* ``run``s its pipeline once through the engine's public functions, with
  its output written to Parquet (the write is the action that forces it);
* ``check``s that output against the reference, outside any timed window.

With a :class:`jobtrace.Tracer` the pipeline runs traced: every public call
sits in a span named after the engine module it enters, and each lazy layer
is forced at its boundary (persist + count) so its jobs are its own.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
from contextlib import nullcontext
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import reference

#: input sizes; "smoke" is the smallest and is what the smoke test runs
SIZES = {
    "bench": {
        "crawl_pages": {"pages": 1000, "hosts": 100, "mean_outlinks": 20},
        "host_trust": {"hosts": 600, "mean_outlinks": 6, "trusted": 0.10},
        "neardup_corpus": {"docs": 5000, "vocab": 20000, "words": (40, 80)},
    },
    "smoke": {
        "crawl_pages": {"pages": 120, "hosts": 20, "mean_outlinks": 6},
        "host_trust": {"hosts": 60, "mean_outlinks": 4, "trusted": 0.10},
        "neardup_corpus": {"docs": 300, "vocab": 2000, "words": (30, 50)},
    },
}
#: rank supersteps (LinkRankConfig.superstep_count) of every rank loop
SUPERSTEPS = 10
#: planted near-duplicates and the share of their words edited
DUP_SHARE = 0.20
EDIT_SHARE = 0.05
#: MinHash / LSH parameters (the engine's neardup_clusters defaults)
MINHASH_K, LSH_BANDS, SHINGLE_N = 16, 4, 3
#: recall of planted pairs the near-dup output must reach. When the
#: benchmark was defined, seeds 301-310 at the bench size gave 0.737-0.786
#: and the smoke size (seed 1) 0.687; the floor leaves margin below both.
RECALL_FLOOR = 0.60


def _span(tracer, layer):
    return tracer.span(layer) if tracer is not None else nullcontext()


def _force(df, tracer, count_as: str = "rows"):
    """In a traced run, materialize ``df`` now so its jobs are attributed
    to the current span, and note its row count there; untraced, leave it
    lazy."""
    if tracer is None:
        return df
    df = df.persist()
    tracer.note(**{count_as: df.count()})
    return df


def _write(df, path: Path) -> None:
    df.write.mode("overwrite").parquet(str(path))


def _read_scores(path: Path, qualifier: str) -> dict[str, float]:
    t = pq.read_table(str(path))
    return {
        k: float(dict(md)[qualifier])
        for k, md in zip(t.column("row_key").to_pylist(), t.column("metadata").to_pylist())
    }


def _count_check(df, want: int, what: str) -> list[str]:
    n = df.count()
    return [] if n == want else [f"{what}: {n} rows, want {want}"]


class Workload:
    name = ""
    #: what the output check compares, for the report
    checks = ""
    #: extra options of the driver JVM (which runs the executors too)
    java_options = ""

    def __init__(self, size: str, cache: Path):
        self.params = SIZES[size][self.name]
        self.size = size
        self.cache = cache

    # -- inputs ------------------------------------------------------------
    def prepare(self, seed: int) -> dict:
        """Generate (or load from cache) the inputs and references for
        ``seed``. Returns the input description, with the generation and
        reference times of the run that built the cache entry."""
        key = "-".join(f"{v}" for v in self.params.values()).replace(" ", "")
        d = self.cache / f"{self.name}-{self.size}-{key}-s{seed}"
        if not (d / "meta.json").exists():
            tmp = d.with_name(d.name + f".tmp{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
            t0 = time.perf_counter()
            meta = self._generate(seed, tmp)
            meta["gen_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            self._reference(tmp, meta)
            meta["ref_s"] = time.perf_counter() - t0
            (tmp / "meta.json").write_text(json.dumps(meta))
            shutil.rmtree(d, ignore_errors=True)
            os.replace(tmp, d)
            meta["cached"] = False
        else:
            meta = json.loads((d / "meta.json").read_text())
            meta["cached"] = True
        meta["dir"] = d
        return meta

    def _generate(self, seed: int, d: Path) -> dict:
        raise NotImplementedError

    def _reference(self, d: Path, meta: dict) -> None:
        raise NotImplementedError

    # -- pipeline ----------------------------------------------------------
    def run(self, spark, inp: dict, out: Path, tracer=None) -> dict | None:
        """One run; returns handles the traced-run counters read after it."""
        raise NotImplementedError

    def check(self, inp: dict, out: Path) -> list[str]:
        """Failures of the output ``run`` wrote (empty when correct)."""
        raise NotImplementedError

    def scan_check(self, spark, inp: dict) -> list[str] | None:
        """Failures of the input scan's row count, or None when the
        workload has no such check."""
        return None

    def notes(self) -> list[str]:
        """Report lines about the checks, beyond pass / fail."""
        return []

    #: ``url_probe(spark, inp)``: the URL functions alone over the scanned
    #: outlink column, timed in traced runs; None where no URLs are read
    url_probe = None


# ---------------------------------------------------------------------------


def _rank_cfg(**kw):
    from giranking_spark.config import LinkRankConfig

    return LinkRankConfig(superstep_count=SUPERSTEPS, **kw)


def _trust_cfg():
    from giranking_spark.config import TrustRankConfig

    return TrustRankConfig(superstep_count=SUPERSTEPS)


def _rank(vertices, edges, cfg, tracer, remove_duplicates_traced=False):
    """Rank fixpoint + CDF epilogue: ``run_linkrank`` / ``run_trustrank``
    untraced; traced, the same two steps as separate spans."""
    from giranking_spark.config import TrustRankConfig
    from giranking_spark.operators import clean, linkrank

    trust = isinstance(cfg, TrustRankConfig)
    if tracer is None:
        return (linkrank.run_trustrank if trust else linkrank.run_linkrank)(vertices, edges, cfg)
    if remove_duplicates_traced:
        with tracer.span("operators.clean"):
            edges = _force(clean.dedup_edges(edges), tracer)
        cfg = dataclasses.replace(cfg, remove_duplicates=False)
    with tracer.span("operators.linkrank"):
        raw = (linkrank.trustrank_raw if trust else linkrank.linkrank_raw)(vertices, edges, cfg)
    with tracer.span("operators.linkrank.normalize"):
        return _force(linkrank.normalize_scores(raw.select("id", "score"), cfg.scale), tracer)


class CrawlPages(Workload):
    name = "crawl_pages"
    checks = "webpage_edges row count vs generator; LinkRank vs DuckDB oracle within 1e-6"

    def _generate(self, seed, d):
        p = self.params
        table, truth = gen.make_crawl(seed, p["pages"], p["hosts"], p["mean_outlinks"])
        pq.write_table(table, str(d / "webpage.parquet"))
        pq.write_table(truth["edges"], str(d / "edges.parquet"))
        return {"input_rows": truth["outlinks"], "scan_edges": truth["scan_edges"],
                "clean_edges": truth["edges"].num_rows}

    def _reference(self, d, meta):
        scores = reference.linkrank_scores(pq.read_table(str(d / "edges.parquet")),
                                           _rank_cfg(remove_duplicates=True))
        pq.write_table(pa.table({"id": list(scores), "score": list(scores.values())}),
                       str(d / "linkrank.parquet"))

    def run(self, spark, inp, out, tracer=None):
        from giranking_spark.sources import nutch

        mirror = spark.read.parquet(str(inp["dir"] / "webpage.parquet"))
        with _span(tracer, "sources.nutch"):
            edges = _force(nutch.webpage_edges(mirror), tracer)
        scores = _rank(None, edges, _rank_cfg(remove_duplicates=True), tracer,
                       remove_duplicates_traced=True)
        with _span(tracer, "sources.nutch.sink"):
            _write(nutch.scores_to_webpage_mirror(scores), out / "webpage_scores")

    def check(self, inp, out):
        from giranking_spark.sources.nutch import QUAL_LINKRANK

        t = pq.read_table(str(inp["dir"] / "linkrank.parquet"))
        want = {gen.reverse_url(i): s for i, s in zip(t.column("id").to_pylist(), t.column("score").to_pylist())}
        return reference.score_mismatches(_read_scores(out / "webpage_scores", QUAL_LINKRANK), want, "linkrank")

    def scan_check(self, spark, inp):
        from giranking_spark.sources.nutch import webpage_edges

        return _count_check(webpage_edges(spark.read.parquet(str(inp["dir"] / "webpage.parquet"))),
                            inp["scan_edges"], "webpage_edges")

    def url_probe(self, spark, inp):
        from pyspark.sql import functions as F

        from giranking_spark.functions.urls import url_is_valid, url_source_detect

        m = spark.read.parquet(str(inp["dir"] / "webpage.parquet"))
        m.select(
            url_source_detect(F.col("row_key")).alias("src"),
            F.explode(F.map_keys("outlinks")).alias("dst"),
        ).select(url_is_valid(F.col("src")).alias("a"), url_is_valid(F.trim("dst")).alias("b")).agg(
            F.count_if(F.col("a") & F.col("b"))
        ).first()


class HostTrust(Workload):
    name = "host_trust"
    checks = "host_edges row count vs generator; HostRank vs DuckDB oracle, TrustRank vs numpy, within 1e-6"

    def _generate(self, seed, d):
        p = self.params
        table, truth = gen.make_hosts(seed, p["hosts"], p["mean_outlinks"], p["trusted"])
        pq.write_table(table, str(d / "host.parquet"))
        pq.write_table(truth["edges"], str(d / "edges.parquet"))
        return {"input_rows": truth["outlinks"], "scan_edges": truth["scan_edges"],
                "clean_edges": truth["edges"].num_rows,
                "crawled": truth["crawled"], "trusted": truth["trusted"]}

    def _reference(self, d, meta):
        edges = pq.read_table(str(d / "edges.parquet"))
        hr = reference.linkrank_scores(edges, _rank_cfg())
        tr = reference.trustrank_scores(edges, meta["crawled"], meta["trusted"], _trust_cfg())
        for name, scores in (("hostrank", hr), ("trustrank", tr)):
            pq.write_table(pa.table({"id": list(scores), "score": list(scores.values())}),
                           str(d / f"{name}.parquet"))

    def run(self, spark, inp, out, tracer=None):
        from giranking_spark.sources import nutch

        mirror = spark.read.parquet(str(inp["dir"] / "host.parquet"))
        with _span(tracer, "sources.nutch"):
            edges = _force(nutch.host_edges(mirror), tracer)
            verts = _force(nutch.host_vertices(mirror), tracer, "vertices")
            trust_verts = _force(nutch.host_vertices(mirror, with_trust=True), tracer, "vertices")
        hostrank = _rank(verts, edges, _rank_cfg(), tracer)
        trustrank = _rank(trust_verts, edges, _trust_cfg(), tracer)
        with _span(tracer, "sources.nutch.sink"):
            _write(nutch.scores_to_host_mirror(hostrank, nutch.QUAL_HOSTRANK), out / "host_hr")
            _write(nutch.scores_to_host_mirror(trustrank, nutch.QUAL_TRUSTRANK), out / "host_tr")

    def check(self, inp, out):
        from giranking_spark.sources.nutch import QUAL_HOSTRANK, QUAL_TRUSTRANK

        fails = []
        for name, qual, sub in (("hostrank", QUAL_HOSTRANK, "host_hr"), ("trustrank", QUAL_TRUSTRANK, "host_tr")):
            t = pq.read_table(str(inp["dir"] / f"{name}.parquet"))
            want = {gen.reverse_host(i): s for i, s in zip(t.column("id").to_pylist(), t.column("score").to_pylist())}
            fails += reference.score_mismatches(_read_scores(out / sub, qual), want, name)
        return fails

    def scan_check(self, spark, inp):
        from giranking_spark.sources.nutch import host_edges

        return _count_check(host_edges(spark.read.parquet(str(inp["dir"] / "host.parquet"))),
                            inp["scan_edges"], "host_edges")

    def url_probe(self, spark, inp):
        from pyspark.sql import functions as F

        from giranking_spark.functions.urls import host_is_valid, host_unreverse

        m = spark.read.parquet(str(inp["dir"] / "host.parquet"))
        m.select(
            host_unreverse(F.col("row_key")).alias("src"),
            F.explode(F.map_keys("outlinks")).alias("dst"),
        ).select(host_is_valid(F.col("src")).alias("a"), host_is_valid(F.trim("dst")).alias("b")).agg(
            F.count_if(F.col("a") & F.col("b"))
        ).first()


class NeardupCorpus(Workload):
    name = "neardup_corpus"
    checks = "every doc once, min-member labels and keep flags; planted-pair recall >= floor; fingerprint stable"
    # C1 only. With the default tiered JIT this pipeline's ~3 s runs keep
    # getting faster for about a minute (C2 still compiles 1.3-2 s of CPU
    # per run after 16 runs), far past set-up, so run_s depended on how far
    # that had got. Under C1 the runs are flat once set-up ends. Five seeds:
    # run_s spread 0.17 with the default JIT, 0.09 with C1. crawl_pages
    # keeps the default: it runs twice as slow under C1.
    java_options = "-XX:TieredStopAtLevel=1"

    def __init__(self, size, cache):
        super().__init__(size, cache)
        self.recalls: list[float] = []
        self.fingerprints: set[str] = set()
        self._planted: set[tuple[int, int]] | None = None

    def _generate(self, seed, d):
        p = self.params
        table, truth = gen.make_corpus(seed, p["docs"], p["vocab"], p["words"], DUP_SHARE, EDIT_SHARE)
        pq.write_table(table, str(d / "docs.parquet"))
        pq.write_table(pa.table({"doc_id": table.column("doc_id"), "base": truth["base_of"]}),
                       str(d / "planted.parquet"))
        return {"input_rows": table.num_rows}

    def _reference(self, d, meta):
        """The planted clusters are the reference; nothing to compute."""

    def planted(self, inp) -> set[tuple[int, int]]:
        if self._planted is None:
            t = pq.read_table(str(inp["dir"] / "planted.parquet"))
            self._planted = reference.planted_pairs(t.column("base").to_numpy(), t.column("doc_id").to_numpy())
        return self._planted

    def run(self, spark, inp, out, tracer=None):
        from pyspark.sql import functions as F

        from giranking_spark.operators import components, dedup

        docs = spark.read.parquet(str(inp["dir"] / "docs.parquet"))
        with _span(tracer, "operators.dedup.signatures"):
            sig = _force(dedup.minhash_signatures(docs, MINHASH_K, SHINGLE_N), tracer)
        with _span(tracer, "operators.dedup.pairs"):
            pairs = dedup.banded_pairs(sig, MINHASH_K, LSH_BANDS)
        with _span(tracer, "operators.components"):
            comp = components.connected_components(
                pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            )
        # cluster + keep flags: the tail of dedup.neardup_clusters
        ids = docs.select("doc_id")
        flags = ids.join(comp, ids.doc_id == comp.id, "left").select(
            "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).cast("long").alias("cluster")
        ).withColumn("keep", F.col("doc_id") == F.col("cluster"))
        with _span(tracer, "sink"):
            _write(flags, out / "clusters")
        return {"pairs": pairs}

    def check(self, inp, out):
        t = pq.read_table(str(out / "clusters"))
        ids, cl, keep = (t.column(c).to_pylist() for c in ("doc_id", "cluster", "keep"))
        clusters = dict(zip(ids, cl))
        fails = []
        if len(clusters) != len(ids) or len(ids) != inp["input_rows"]:
            fails.append(f"clusters: {len(ids)} rows / {len(clusters)} ids, want {inp['input_rows']}")
        if any(c > i or (c == i) != k or clusters.get(c) != c for i, c, k in zip(ids, cl, keep)):
            fails.append("clusters: a cluster label is not its smallest member, or keep flags disagree")
        recall = reference.cluster_recall(clusters, self.planted(inp))
        self.recalls.append(recall)
        if recall < RECALL_FLOOR:
            fails.append(f"recall of planted pairs {recall:.3f} < floor {RECALL_FLOOR}")
        self.fingerprints.add(reference.fingerprint(list(zip(ids, cl, keep))))
        if len(self.fingerprints) > 1:
            fails.append("clusters: output fingerprint changed between runs")
        return fails

    def notes(self):
        if not self.recalls:
            return []
        return [f"planted-pair recall: min {min(self.recalls):.4f} (floor {RECALL_FLOOR}); "
                f"output fingerprint {', '.join(sorted(self.fingerprints))}"]


WORKLOADS = {w.name: w for w in (CrawlPages, HostTrust, NeardupCorpus)}
