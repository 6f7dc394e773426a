"""The workloads: what one operation does, how its output is checked,
and how the traced run splits it into layer calls.

* extract — ``extract_triples`` over the seeded docs table, ending in a
  count+fingerprint aggregate. Per-row expression work in the extraction
  operators grows with the docs; it never reaches dedup, so optimisations
  of that must leave it flat. Its traced run goes on from the extraction
  outputs through the staged graph build's layers (Pipeline stage
  bookkeeping, align, linking, canonicalize, node/edge writes) and
  id-keyed lookups of the graph it wrote.
* neardup — MinHash-LSH near-duplicate pairs over a text table with
  planted near-duplicates. It never reaches the extraction operators, so
  optimisations of those must leave it flat. Its traced run adds SimHash
  pairs, near-dup clusters and embedding near-dup pairs.
"""

from __future__ import annotations

import math
import os
import random
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

import inputs
import oracle

EXTRACT_DOCS = 5_000
NEARDUP_TEXTS = 3_000
NEARDUP_VECS = 1_500  # embeddings, traced run only
# the traced run's graph layers take one doc in GRAPH_DOC_SAMPLE: they
# are bound by per-job and per-round cost, and the traced run has to end
# within the run time limit
GRAPH_DOC_SAMPLE = 5
LOOKUPS = 5  # canonical ids looked up (nodes and edges each) in the traced run
# A run must end within 180 s. On a quiet 4-core host the traced extract
# run reaches align ~65 s in and connected components ~82 s in, and ends
# at 110-127 s. When the host is slowed past ~1.4x, the graph layers that
# would start after these many seconds are skipped (they report zeros,
# and the info line says from where) rather than overrun.
GRAPH_LATE_S = {"align": 90.0, "canonicalize": 112.0}
MINHASH_THRESHOLD = 0.6  # dedup.minhash_lsh_pairs' default Jaccard cut
SIMHASH_MAX_HAMMING = 7  # dedup.simhash_pairs' default radius
COSINE_THRESHOLD = 0.95  # similarity.embedding_neardup_pairs' default cut
# recall floor for the planted pairs: LSH is probabilistic, and the floor
# sits under the ~0.99 that the banding gives at the planted similarity
RECALL_MIN = 0.95


def _force(df) -> int:
    df.persist(StorageLevel.MEMORY_AND_DISK)
    return df.count()


class Workload:
    """One run's state. ``setup`` writes the seeded inputs; ``op`` runs
    one operation and returns its output; ``check`` returns how many of
    ``outputs`` are wrong; ``trace`` runs one operation as layer calls
    inside spans and ``trace_extras`` adds the work/attempt counts
    measured outside them."""

    name = ""
    min_ops = 2  # timed operations per run, at least

    def __init__(self, spark, work_dir: str, seed: int, started: float):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.started = started  # time.monotonic() at process start
        self.files = spark.sparkContext.defaultParallelism  # one scan split per core
        # triple-table fingerprints to compare with the DuckDB oracle over
        # ``self.docs_path`` once Spark has stopped
        self.fingerprints: list[tuple[int, int, int]] = []
        # failed output checks of the traced run's extra layer calls
        self.trace_failures = 0
        # the first graph layer the traced run skipped for time, if any,
        # and the run's age when it reached each GRAPH_LATE_S layer
        self.graph_skipped_from = None
        self.graph_clock: dict[str, float] = {}


# -- extract -----------------------------------------------------------------


class Extract(Workload):
    name = "extract"

    def setup(self, n_docs: int | None = None) -> None:
        self.n_docs = n_docs or EXTRACT_DOCS
        self.docs_path = os.path.join(self.work, "inputs", "docs")
        inputs.write_docs(self.n_docs, self.seed, self.docs_path, self.files)
        self.docs = self.spark.read.parquet(self.docs_path)

    def op(self, i: int):
        from corporate_knowledge_extractor_spark.plans.pipeline import extract_triples

        fp = oracle.spark_fingerprint(extract_triples(self.docs))
        self.spark.catalog.clearCache()
        return fp

    def result_rows(self, out) -> int:
        return out[0]

    def check(self, outputs: list) -> int:
        self.fingerprints = list(outputs)
        return 0

    def trace(self, tracer) -> None:
        from corporate_knowledge_extractor_spark.config import DEFAULT_CONFIG as cfg
        from corporate_knowledge_extractor_spark.operators.mentions import (
            junk_block_filter, mention_stage)
        from corporate_knowledge_extractor_spark.operators.postprocess import post_process
        from corporate_knowledge_extractor_spark.operators.redact import redact_columns
        from corporate_knowledge_extractor_spark.operators.segment import (
            DOC_KEY, assign_blocks, split_lines)
        from corporate_knowledge_extractor_spark.operators.synthesize import (
            synthesize_triples)

        # the same chain extract_triples builds, forced layer by layer on
        # the persisted output of the previous layer
        t0 = time.perf_counter()
        with tracer.span("segment.assign_blocks", "segment") as s:
            blocks = assign_blocks(split_lines(self.docs.repartition(*DOC_KEY)))
            s["rows_out"] = _force(blocks)
        with tracer.span("mentions.mention_stage", "mentions") as s:
            df = mention_stage(junk_block_filter(blocks), cfg.mentions)
            s["rows_out"] = _force(df)
        with tracer.span("redact.redact_columns", "redact") as s:
            mentions = redact_columns(df, ["surface"], cfg.redaction)
            s["rows_out"] = _force(mentions)
        with tracer.span("synthesize.synthesize_triples", "synthesize") as s:
            df = synthesize_triples(mentions)
            raw = s["rows_out"] = _force(df)
        with tracer.span("postprocess.post_process", "postprocess") as s:
            triples = post_process(df, persist=True)
            s["rows_out"] = _force(triples)
        self.traced_output = oracle.spark_fingerprint(triples)
        self.traced_op_wall_s = time.perf_counter() - t0
        self.extras = {"postprocess.keep_ratio": self.traced_output[0] / raw if raw else 0.0}
        self._graph = None
        try:
            self._trace_graph(tracer, cfg, blocks, mentions, triples)
        except _Late as late:
            self.graph_skipped_from = str(late)

    def _trace_graph(self, tracer, cfg, blocks, mentions, triples) -> None:
        """The staged graph build's layers on the extraction outputs: the
        Pipeline's own stage bookkeeping and stage-table writes, align,
        linking, canonicalize, the partitioned node/edge writes, and
        id-keyed lookups of the graph so written."""
        from corporate_knowledge_extractor_spark.operators import canonicalize as cc
        from corporate_knowledge_extractor_spark.operators import linking
        from corporate_knowledge_extractor_spark.operators.align import (
            align_segments_to_frames)
        from corporate_knowledge_extractor_spark.operators.mentions import (
            junk_block_filter, tag_mentions)
        from corporate_knowledge_extractor_spark.operators.segment import (
            DOC_KEY, block_segments)
        from corporate_knowledge_extractor_spark.plans.pipeline import (
            Pipeline, read_edges_for_canonical, read_nodes_for_canonical)
        from corporate_knowledge_extractor_spark.sources.sinks import read_table, write_table

        def sample(df):
            return df.where(F.pmod(F.xxhash64(*DOC_KEY), F.lit(GRAPH_DOC_SAMPLE)) == 0)

        graph = os.path.join(self.work, "graph")
        part = Pipeline.STAGE_PARTITIONING
        with tracer.span("pipeline.run(stop_after=docs)", "pipeline"):
            # one staged run: stage write, lineage and metric rows
            Pipeline(self.spark, graph, run_id=f"kgbench-{self.seed}").run(
                docs=sample(self.docs), resume=False, stop_after="docs")
        tables = {}
        with tracer.span("pipeline.write_stage_tables", "pipeline") as s:
            # the extraction outputs as the staged build keeps them, written
            # and read back, so the graph layers scan parquet as they do
            # there (over the in-memory lineage, the analyzed plans of the
            # iterative layers outgrow the driver)
            for name, df in (("blocks", junk_block_filter(blocks)),
                             ("mentions", tag_mentions(mentions)), ("triples", triples)):
                write_table(sample(df), f"{graph}/tables/{name}", partition_by=part.get(name))
                tables[name] = read_table(self.spark, f"{graph}/tables/{name}")
                s["rows_out"] += tables[name].count()
        triples = tables["triples"]

        # the segment and frame tables Pipeline's aligned stage builds
        self._on_time("align")
        with tracer.span("align.align_segments_to_frames", "align") as s:
            segs = block_segments(tables["blocks"]).select(
                "repo", "path", "commit", F.col("block_id").alias("seg_id"),
                F.col("start").cast("double").alias("start"),
                F.col("end").cast("double").alias("end"), "text")
            frames = tables["mentions"].select(
                "repo", "path", "commit", F.col("line_no").cast("double").alias("ts"),
                F.col("surface").alias("text"), "tags")
            s["rows_out"] = _force(align_segments_to_frames(segs, frames, cfg.alignment))
        with tracer.span("linking.extract_entities", "linking") as s:
            entities = linking.extract_entities(triples)
            s["rows_out"] = _force(entities)
        with tracer.span("linking.entity_candidate_pairs", "linking") as s:
            cands = linking.entity_candidate_pairs(entities, cfg.linking)
            n_cands = s["rows_out"] = _force(cands)
        with tracer.span("linking.score_pairs", "linking") as s:
            links = linking.score_pairs(cands, entities, cfg.linking)
            n_links = s["rows_out"] = _force(links)
        self.extras.update({
            "linking.candidate_pairs": n_cands,
            "linking.link_yield": n_links / n_cands if n_cands else 0.0,
        })
        rounds: list[int] = []
        self._on_time("canonicalize")
        with tracer.span("canonicalize.connected_components", "canonicalize") as s:
            comps = cc.connected_components(
                entities, links, cfg.canonicalize, scratch_dir=os.path.join(self.work, "cc"),
                on_iteration=lambda i, changed: rounds.append(i))
            s["rows_out"] = comps.count()  # returned persisted
        with tracer.span("canonicalize.build_nodes", "canonicalize") as s:
            nodes = cc.build_nodes(entities, comps)
            s["rows_out"] = _force(nodes)
        with tracer.span("canonicalize.canonical_map", "canonicalize") as s:
            cmap = cc.canonical_map(entities, comps)
            s["rows_out"] = _force(cmap)

        with tracer.span("pipeline.write_graph", "pipeline") as s:
            # nodes and canonical-keyed edges in the stage tables' layout
            # (a reduced edges table: linked objects rewritten to their
            # canonical id, which is what the lookups key on)
            write_table(nodes, f"{graph}/tables/nodes", partition_by=part["nodes"])
            edges = (triples.join(cmap, triples.obj == cmap.surface)
                     .groupBy(F.xxhash64("subj").alias("src"),
                              F.col("canonical_id").alias("dst"), "pred")
                     .agg(F.count(F.lit(1)).alias("weight"))
                     .withColumn("_dst_bucket", cc.cid_bucket(F.col("dst"))))
            write_table(edges, f"{graph}/tables/edges", partition_by=part["edges"])
            s["rows_out"] = nodes.count()

        ids = [r.dst for r in self.spark.read.parquet(f"{graph}/tables/edges")
               .select("dst").distinct().orderBy("dst").collect()]
        ids = random.Random(self.seed).sample(ids, min(LOOKUPS, len(ids)))
        looked, files = {}, []
        for cid in ids:
            for name, read in (("nodes", read_nodes_for_canonical),
                               ("edges", read_edges_for_canonical)):
                with tracer.span(f"lookup.{read.__name__}", "lookup") as s:
                    df = read(self.spark, graph, cid)
                    looked[name, cid] = df.collect()
                    s["rows_out"] = len(looked[name, cid])
                files.append(_files_read(df))

        self._graph = (graph, looked, links, comps)
        self.extras.update({
            "canonicalize.iterations": len(rounds),
            "lookup.files_per_lookup": sum(files) / len(files) if files else 0.0,
        })

    def _check_graph(self, graph, looked, links, comps) -> int:
        """Failed checks: every lookup equals a full-scan filter of its
        table, and both ends of every link share a component."""
        failed = 0
        key = {"nodes": "canonical_id", "edges": "dst"}
        for (name, cid), rows in looked.items():
            full = (self.spark.read.parquet(f"{graph}/tables/{name}")
                    .where(F.col(key[name]) == cid).collect())
            if sorted(map(tuple, rows)) != sorted(map(tuple, full)) or not full:
                print(f"lookup of {name} {cid}: {len(rows)} rows, full scan {len(full)}")
                failed += 1
        c = comps.select("entity_id", "component")
        split = (links.join(c.withColumnRenamed("entity_id", "id_a")
                             .withColumnRenamed("component", "c_a"), "id_a")
                 .join(c.withColumnRenamed("entity_id", "id_b")
                        .withColumnRenamed("component", "c_b"), "id_b")
                 .where(F.col("c_a") != F.col("c_b")).count())
        if split:
            print(f"{split} links join entities of different components")
            failed += 1
        return failed

    def _on_time(self, layer: str) -> None:
        self.graph_clock[layer] = time.monotonic() - self.started
        if self.graph_clock[layer] > GRAPH_LATE_S[layer]:
            raise _Late(layer)

    def trace_extras(self, tracer) -> dict:
        if self._graph is not None:
            self.trace_failures = self._check_graph(*self._graph)
        self.spark.catalog.clearCache()
        return self.extras


# -- neardup ----------------------------------------------------------------


class NearDup(Workload):
    name = "neardup"

    def setup(self, n_docs: int | None = None) -> None:
        self.n_texts = n_docs or NEARDUP_TEXTS
        self.texts_pd, self.text_pairs = inputs.neardup_texts(self.n_texts, self.seed)
        self.vecs_pd, self.vec_pairs = inputs.neardup_embeddings(NEARDUP_VECS, self.seed)
        path = os.path.join(self.work, "inputs")
        inputs.write_frame(self.texts_pd, os.path.join(path, "texts"), self.files)
        inputs.write_frame(self.vecs_pd, os.path.join(path, "embeddings"), self.files)
        self.texts = self.spark.read.parquet(os.path.join(path, "texts"))
        self.vecs = self.spark.read.parquet(os.path.join(path, "embeddings"))

    def op(self, i: int):
        from corporate_knowledge_extractor_spark.operators import dedup

        out = dedup.minhash_lsh_pairs(self.texts).collect()
        self.spark.catalog.clearCache()
        return out

    def result_rows(self, out) -> int:
        return self.n_texts

    def check(self, outputs: list) -> int:
        return sum(not self._check_one(out) for out in outputs)

    def _check_one(self, pairs) -> bool:
        """Every pair's Jaccard recomputed exactly over the same shingles
        (dedup.word_shingles of normalize_text: word 3-grams of the
        lower-cased, single-spaced text), and the planted pairs found."""
        text = dict(zip(self.texts_pd["doc_id"], self.texts_pd["text"]))

        def shingles(t: str) -> set[str]:
            w = " ".join(t.lower().split()).split(" ")
            return {" ".join(w[k:k + 3]) for k in range(len(w) - 2)} if len(w) >= 3 else {" ".join(w)}

        for r in pairs:
            a, b = shingles(text[r.id_a]), shingles(text[r.id_b])
            exact = len(a & b) / len(a | b)
            if abs(exact - r.jaccard) > 1.01e-4 or r.jaccard < MINHASH_THRESHOLD:
                print(f"minhash pair {r} has exact Jaccard {exact}")
                return False
        return _recall_ok("planted near-dup text", self.text_pairs,
                          {(r.id_a, r.id_b) for r in pairs})

    def trace(self, tracer) -> None:
        from corporate_knowledge_extractor_spark.operators import dedup, similarity

        t0 = time.perf_counter()
        with tracer.span("dedup.minhash_lsh_pairs", "dedup") as s:
            pairs_df = dedup.minhash_lsh_pairs(self.texts)
            s["rows_out"] = _force(pairs_df)
            pairs = pairs_df.collect()
        self.traced_output = pairs
        self.traced_op_wall_s = time.perf_counter() - t0
        with tracer.span("dedup.simhash_pairs", "dedup") as s:
            sim = dedup.simhash_pairs(self.texts).collect()
            s["rows_out"] = len(sim)
        with tracer.span("dedup.neardup_clusters", "dedup") as s:
            clusters = dedup.neardup_clusters(self.texts, pairs_df).collect()
            s["rows_out"] = len(clusters)
        with tracer.span("similarity.embedding_neardup_pairs", "similarity") as s:
            emb = similarity.embedding_neardup_pairs(self.vecs, inputs.EMB_DIM).collect()
            s["rows_out"] = len(emb)
        self.spark.catalog.clearCache()
        self._traced = (sim, clusters, emb)

    def _check_simhash(self, sim) -> bool:
        bad = [r for r in sim if not (0 <= r.id_a < r.id_b < self.n_texts
                                      and 0 <= r.hamming <= SIMHASH_MAX_HAMMING)]
        if bad:
            print(f"{len(bad)} simhash pairs out of range, e.g. {bad[0]}")
        return not bad

    def _check_clusters(self, pairs, clusters) -> bool:
        """One row per text; the cluster id is the least member and the
        only representative; both texts of every MinHash pair share one."""
        cid = {r.doc_id: r.cluster_id for r in clusters}
        ok = (len(cid) == len(clusters) == self.n_texts
              and all(r.cluster_id <= r.doc_id and r.is_representative == (r.doc_id == r.cluster_id)
                      for r in clusters)
              and all(cid[r.id_a] == cid[r.id_b] for r in pairs))
        if not ok:
            print("neardup_clusters disagrees with the MinHash pairs")
        return ok

    def _check_embedding(self, emb) -> bool:
        """Every pair's cosine recomputed exactly, and the planted pairs
        found."""
        vec = dict(zip(self.vecs_pd["vec_id"], self.vecs_pd["embedding"]))

        def cos(a, b) -> float:
            dot = sum(x * y for x, y in zip(a, b))
            return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

        for r in emb:
            exact = cos(vec[r.id_a], vec[r.id_b])
            if abs(exact - r.cosine_sim) > 1.01e-4 or r.cosine_sim < COSINE_THRESHOLD:
                print(f"embedding pair {r} has exact cosine {exact}")
                return False
        return _recall_ok("planted near-dup embedding", self.vec_pairs,
                          {(r.id_a, r.id_b) for r in emb})

    def trace_extras(self, tracer) -> dict:
        """Checks the traced extra calls' outputs, and counts candidates
        before exact verification, rebuilt from the same public building
        blocks the pair generators use."""
        from corporate_knowledge_extractor_spark.operators import dedup, linking, similarity

        sim, clusters, emb = self._traced
        self.trace_failures = sum(not ok for ok in (
            self._check_simhash(sim), self._check_clusters(self.traced_output, clusters),
            self._check_embedding(emb)))

        cfg = dedup.DOC_DEDUP_CFG
        norm = self.texts.select(F.col("doc_id").alias("id"),
                                 dedup.normalize_text(F.col("text")).alias("t"))
        cands = linking.candidate_id_pairs(
            linking.lsh_band_keys(norm, "id", dedup.word_shingles(F.col("t"), cfg.shingle_size), cfg),
            cfg).count()
        # embedding_neardup_pairs' defaults: 8 hyperplanes, each vector
        # probing its own bucket and the 8 at Hamming distance 1
        planes = 8
        b = self.vecs.select(F.col("vec_id").alias("id"),
                             similarity.lsh_bucket(F.col("embedding"), inputs.EMB_DIM, planes)
                             .alias("b"))
        probes = b.select("id", F.explode(F.array(F.col("b"), *[
            F.col("b").bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(planes)]))
            .alias("b"))
        emb_cands = (probes.join(b.withColumnRenamed("id", "id_r"), "b")
                     .where(F.col("id") != F.col("id_r"))
                     .select(F.least("id", "id_r"), F.greatest("id", "id_r")).distinct().count())
        self.spark.catalog.clearCache()
        return {
            "dedup.candidate_pairs": cands,
            "dedup.verify_yield": len(self.traced_output) / cands if cands else 0.0,
            "similarity.candidate_pairs": emb_cands,
            "similarity.verify_yield": len(emb) / emb_cands if emb_cands else 0.0,
        }


class _Late(Exception):
    """The traced run is too late to start the named graph layer."""


def _files_read(df) -> int:
    """Files the last execution of ``df`` scanned, from the scan nodes'
    ``numFiles`` metric: after partition pruning, unlike inputFiles()."""
    n, todo = 0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            n += node.metrics().get("numFiles").get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return n


def _recall_ok(what: str, planted: set, found: set) -> bool:
    recall = len(planted & found) / max(1, len(planted))
    if recall < RECALL_MIN:
        print(f"{what} recall {recall:.3f} < {RECALL_MIN}")
    return recall >= RECALL_MIN


WORKLOADS = {w.name: w for w in (Extract, NearDup)}
