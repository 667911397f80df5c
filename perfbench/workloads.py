"""The three workloads: seeded inputs, one timed operation, one layered pass.

Every workload is a closed loop with one client: the next operation starts
when the previous one has returned.  Pages come from
``sources.pages.spark_pages_df`` with the workload seed; variant 0 of each
entity is its master page and variants 1.. are re-crawled pages whose names
carry one perturbation each, so the ground-truth link of a query page is
the master page of the same entity.
"""

from __future__ import annotations

import dataclasses
import random
from contextlib import contextmanager

from pyspark.sql import functions as F

import check
from name_matching_spark.operators.blocking import (
    cosine_top_n,
    prefix_filtered_top_n,
)
from name_matching_spark.operators.cluster import cluster_matches
from name_matching_spark.operators.scoring import (
    best_matches,
    postprocess_rescore,
    score_candidates,
)
from name_matching_spark.operators.tfidf import (
    GROUP_COL,
    doc_count_table,
    explode_char_ngrams,
    idf_table,
    master_weights,
    query_weights,
)
from name_matching_spark.pipeline import (
    MatchConfig,
    _prepare,
    _resolve_plan,
    extract_pages_names,
    fit_master,
    match_names,
    match_pages,
)
from name_matching_spark.sources.pages import spark_pages_df
from name_matching_spark.streaming.incremental import (
    BATCH_ID_COL,
    linkage_batch_processor,
)
from spans import plan_exchanges, plan_python_nodes, storage_mb

# The crossover to the prefix blocker is lowered from 4,000 to 1,000 master
# docs per block so that a master that links in seconds on a 4-core host
# still takes the prefix path; the code path is the one the default takes
# above 4,000.
PREFIX_CFG = MatchConfig(threshold=50.0, auto_prefix_threshold=1_000)
GROUPED_CFG = dataclasses.replace(PREFIX_CFG, legal_suffixes=True,
                                  common_words=True)

VARIANTS = 12        # per entity: variant 0 is the master page
SAMPLE_PER_OP = 6    # queries per operation checked against the oracle
WARMUP_ENTITIES = 40


@contextmanager
def _untraced(name, **attrs):
    yield {"name": name, **attrs}


def span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else _untraced(name, **attrs)


class Workload:
    """Seeded inputs, the warm-up link, oracle and the layered pass.
    Subclasses define ``op_pairs``, ``query_pages`` and ``op``."""

    name = ""
    cfg = PREFIX_CFG
    entities = 1_500
    group_col: str | None = None
    clusters = False
    first_op = 0         # index of the first timed operation

    def __init__(self, spark, seed: int, work_dir):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.pool = self.master = None
        self.fitted = None

    # -- inputs ---------------------------------------------------------
    def block_of(self, entity: int) -> str:
        return ""

    def _with_block(self, df):
        return df

    def make_pages(self, tracer=None) -> dict:
        """Persist every page this run can link (fixture cost, untimed)."""
        with span(tracer, "pages") as s:
            self.pool = spark_pages_df(self.spark, self.entities, VARIANTS,
                                       self.seed).persist()
            s["rows_out"] = self.pool.count()
            self.master = self.pool.filter(F.col("variant_id") == 0)
        return s

    def masters_for_oracle(self):
        out = []
        for e in range(self.entities):
            url, name = check.page_url_name(e, 0, self.seed)
            out.append((url, name, self.block_of(e)))
        return out

    def block_prefix(self) -> dict:
        """Block -> prefix size the pipeline resolves from block sizes."""
        sizes: dict[str, int] = {}
        for e in range(self.entities):
            b = self.block_of(e)
            sizes[b] = sizes.get(b, 0) + 1
        thr = self.cfg.auto_prefix_threshold
        return {b: (self.cfg.auto_prefix_size if n > thr else None)
                for b, n in sizes.items()}

    def oracle(self) -> check.Oracle:
        return check.Oracle(self.masters_for_oracle(), self.cfg,
                            self.block_prefix())

    def sample_queries(self, pairs, op: int):
        """Oracle sample of one operation's (entity, variant) pairs."""
        return [(*check.page_url_name(e, v, self.seed), self.block_of(e))
                for e, v in check.sample(sorted(pairs), SAMPLE_PER_OP,
                                         self.seed, op)]

    def link(self, q_pages, m_pages, cfg=None):
        return match_pages(self.spark, q_pages, m_pages, cfg or self.cfg)

    def materialize(self, out, probe=None) -> dict:
        """Collect a link result; ``probe`` sees the DataFrame first."""
        if probe:
            probe(out)
        return {"rows": [tuple(r) for r in out.select(
            "a_id", "b_id", "score", "source").collect()]}

    def warm_up(self) -> int:
        """One tiny link that spawns the Python workers, imports the
        kernels and runs the timed link's plans once: the crossover is
        lowered below the tiny master's blocks so that it takes the same
        prefix path (and, when grouped, the same routing) as the timed
        links."""
        tiny = spark_pages_df(self.spark, WARMUP_ENTITIES, 2, self.seed + 1)
        cfg = dataclasses.replace(self.cfg,
                                  auto_prefix_threshold=WARMUP_ENTITIES // 2)
        return len(self.materialize(self.link(
            tiny.filter(F.col("variant_id") == 1),
            tiny.filter(F.col("variant_id") == 0), cfg))["rows"])

    # -- layered pass ----------------------------------------------------
    def layered(self, tracer, q_pages, pinned: list) -> dict:
        """The link of ``q_pages`` taken apart into the pipeline's layers,
        each materialized under its own span, in ``match_names`` order.
        Returns intermediate results for the probes."""
        cfg, gcol, fitted = self.cfg, self.group_col, self.fitted

        def pin(df):
            df = df.persist()
            pinned.append(df)
            return df

        with tracer.span("extract") as s:
            a = pin(self._with_block(extract_pages_names(q_pages)))
            sides = [a]
            if fitted is None:
                b = pin(self._with_block(extract_pages_names(self.master)))
                sides.append(b)
            counts = [d.agg(F.count(F.lit(1)),
                            F.sum((F.col("name") == "").cast("int"))).first()
                      for d in sides]
            s["rows_out"] = sum(c[0] for c in counts)
            s["empty"] = sum(c[1] or 0 for c in counts)
        with tracer.span("normalize") as s:
            ap = pin(_prepare(a, "url", "name", gcol, cfg))
            s["queries"] = s["rows_out"] = ap.count()
            if fitted is None:
                bp = pin(_prepare(b, "url", "name", gcol, cfg))
                s["rows_out"] += bp.count()
            else:
                bp = fitted.masters
        with tracer.span("exact") as s:
            exact = pin(
                ap.filter(F.col("name_light") != "")
                .select(GROUP_COL, F.col("id").alias("a_id"),
                        F.col("name_light").alias("original_name"),
                        "name_light")
                .join(bp.filter(F.col("name_light") != "")
                      .select(GROUP_COL, F.col("id").alias("b_id"),
                              F.col("name_light").alias("match_name"),
                              "name_light"),
                      [GROUP_COL, "name_light"])
                .select(GROUP_COL, "a_id", "b_id", "original_name",
                        "match_name", F.lit(100.0).alias("score"),
                        F.lit("exact").alias("source")))
            rem = pin(ap.join(exact.select("a_id").distinct(),
                              ap["id"] == F.col("a_id"), "left_anti")
                      .filter(F.col("name_norm") != ""))
            s["hits"] = exact.select("a_id").distinct().count()
            s["rows_out"] = rem.count()
        with tracer.span("plan"):
            if fitted is None:
                doc_counts = doc_count_table(bp, "id")
                ps, big = _resolve_plan(cfg, doc_counts)
            else:
                ps, big = fitted.prefix_size, fitted.big_groups
        with tracer.span("tfidf") as s:
            built = []
            if fitted is None:
                m_tf = explode_char_ngrams(bp, "id", "name_norm",
                                           cfg.ngram_range)
                idf = pin(idf_table(m_tf, doc_counts))
                built.append(idf)
                m_w = master_weights(m_tf, idf)
            else:
                idf, m_w = fitted.idf, fitted.m_w

            def qw(r):
                return pin(query_weights(explode_char_ngrams(
                    r, "id", "name_norm", cfg.ngram_range), idf))

            if big is None:
                if fitted is None:
                    m_w = pin(m_w)
                    built.append(m_w)
                q = qw(rem)
                built.append(q)
            else:
                bb = F.broadcast(big)
                if fitted is None:
                    m_w_big, m_w_small = (
                        pin(master_weights(explode_char_ngrams(
                            bp.join(bb, GROUP_COL, side), "id", "name_norm",
                            cfg.ngram_range), idf))
                        for side in ("leftsemi", "leftanti"))
                    built += [m_w_big, m_w_small]
                else:
                    m_w_big = m_w_small = m_w
                q_big = qw(rem.join(bb, GROUP_COL, "leftsemi"))
                q_small = qw(rem.join(bb, GROUP_COL, "leftanti"))
                built += [q_big, q_small]
            s["rows_out"] = sum(d.count() for d in built)
        with tracer.span("blocking") as s:
            def prefix(qw_, mw_):
                return prefix_filtered_top_n(
                    qw_, mw_, idf, cfg.top_n, prefix_size=ps,
                    df_cap_frac=cfg.df_cap_frac, round_decimals=9,
                    master_pref=fitted.m_pref if fitted else None,
                    master_map=fitted.m_map if fitted else None)

            def exact_join(qw_, mw_):
                return cosine_top_n(qw_, mw_, cfg.top_n, idf=idf,
                                    df_cap_frac=cfg.df_cap_frac,
                                    round_decimals=9,
                                    master_capped=fitted is not None)

            if ps is None:
                cand = exact_join(q, m_w)
            elif big is None:
                cand = prefix(q, m_w)
            else:
                cand = prefix(q_big, m_w_big).unionByName(
                    exact_join(q_small, m_w_small))
            s["plan_exchanges"] = plan_exchanges(cand)
            cand = pin(cand)
            s["rows_out"] = cand.count()
        with tracer.span("scoring") as s:
            pairs = (
                cand.join(ap.select(GROUP_COL, F.col("id").alias("qid"),
                                    F.col("name_norm").alias("query_name")),
                          [GROUP_COL, "qid"])
                .join(bp.select(GROUP_COL, F.col("id").alias("mid"),
                                F.col("name_norm").alias("cand_name")),
                      [GROUP_COL, "mid"]))
            scored = pin(score_candidates(pairs, metrics=cfg.metrics))
            s["rows_out"] = scored.count()
        with tracer.span("select") as s:
            winners = pin(best_matches(scored, cfg.number_of_matches))
            s["rows_out"] = winners.count()
        selected = winners
        if cfg.legal_suffixes or cfg.common_words:
            with tracer.span("postprocess") as s:
                winners = pin(postprocess_rescore(
                    winners, frozenset(_no_scoring_words(cfg, bp)),
                    metrics=cfg.metrics,
                    number_of_matches=cfg.number_of_matches,
                    slot_col="match_rank"))
                s["rows_out"] = winners.count()
        with tracer.span("assemble") as s:
            fuzzy = winners.select(
                GROUP_COL, F.col("qid").alias("a_id"),
                F.col("mid").alias("b_id"),
                F.col("query_name").alias("original_name"),
                F.col("cand_name").alias("match_name"), "score",
                F.lit("fuzzy").alias("source"),
                (F.col("match_rank") - 1).cast("int").alias("position"))
            matches = pin(
                exact.withColumn("position", F.lit(0)).unionByName(fuzzy)
                .filter(F.col("score") > cfg.threshold).drop(GROUP_COL))
            rows = [tuple(r) for r in matches.select(
                "a_id", "b_id", "score", "source").collect()]
            s["rows_out"] = len(rows)
        if self.clusters:
            with tracer.span("cluster") as s:
                comps = cluster_matches(matches, "a_id", "b_id").collect()
                s["rows_out"] = len(comps)
                s["components"] = len({c[1] for c in comps})
        return {"rows": rows, "matches": matches, "cand": cand,
                "selected": selected, "remainder": rem}


def _no_scoring_words(cfg: MatchConfig, prepared_masters) -> set:
    """The postprocess word set, computed as ``match_names`` computes it."""
    from name_matching_spark.nm_core.preprocess import legal_word_set

    words = set(cfg.no_scoring_words)
    if cfg.legal_suffixes:
        words |= legal_word_set()
    if cfg.common_words:
        counts = (prepared_masters
                  .select(F.explode(F.split("name_norm", " ")).alias("w"))
                  .filter(F.col("w") != "")
                  .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
        mx = counts.agg(F.max("c")).first()[0] or 0
        words |= {r["w"] for r in counts.filter(
            F.col("c") > mx * cfg.cut_off_no_scoring_words).collect()}
    return words


class LinkPrefix(Workload):
    """Ungrouped two-table page linkage through ``match_pages``; one
    operation links a fresh query set of 300 pages against the master."""

    name = "link_prefix"
    slices = 5

    def _query_set(self, i: int) -> tuple[int, int]:
        # a fresh (variant, entity slice) per operation: no pair the
        # workers' score cache holds from an earlier operation recurs
        return (1 + i % (VARIANTS - 1),
                (i // (VARIANTS - 1)) % self.slices)

    def op_pairs(self, i: int) -> list[tuple[int, int]]:
        variant, part = self._query_set(i)
        return [(e, variant)
                for e in range(part, self.entities, self.slices)]

    def query_pages(self, i: int):
        variant, part = self._query_set(i)
        return self.pool.filter(
            (F.col("variant_id") == variant)
            & (F.col("entity_id") % self.slices == part))

    def op(self, i: int, probe=None) -> dict:
        out = self.materialize(self.link(self.query_pages(i), self.master),
                               probe)
        out["queries"] = len(self.op_pairs(i))
        return out


class LinkGrouped(LinkPrefix):
    """Grouped linkage on a skewed block key with postprocess rescoring and
    clustering of the accepted links."""

    name = "link_grouped"
    cfg = GROUPED_CFG
    entities = 1_600
    group_col = "blk"
    clusters = True
    small_blocks = 40

    def block_of(self, entity: int) -> str:
        # three entities in four share one hot block (1,200 master docs,
        # above the crossover); the rest spread over 40 blocks of ten
        if entity % 4:
            return "hot"
        return f"b{(entity // 4) % self.small_blocks:02d}"

    def _with_block(self, df):
        e = F.regexp_extract("url", r"site(\d+)\.example", 1).cast("long")
        return df.withColumn("blk", F.when(e % 4 != 0, F.lit("hot"))
                             .otherwise(F.format_string(
                                 "b%02d", F.floor(e / 4) % self.small_blocks)))

    def link(self, q_pages, m_pages, cfg=None):
        return match_names(
            self.spark, self._with_block(extract_pages_names(q_pages)),
            self._with_block(extract_pages_names(m_pages)),
            "url", "name", "url", "name", group_col_a="blk",
            group_col_b="blk", config=cfg or self.cfg)

    def materialize(self, out, probe=None) -> dict:
        """Collect the links and cluster them."""
        out = out.persist()
        try:
            res = super().materialize(out, probe)
            res["components"] = [tuple(r) for r in
                                 cluster_matches(out, "a_id", "b_id")
                                 .collect()]
        finally:
            out.unpersist()
        return res


class ServeBatches(Workload):
    """``fit_master`` once, then small query batches through
    ``linkage_batch_processor`` into a parquet sink."""

    name = "serve_batches"
    batch_size = 200
    recurring = 50       # names per batch re-sent from earlier batches
    # batches 0 and 1 run the fitted path's plans for the first times and
    # are timed as set-up: the first batch of a session took 7-9 s, the
    # second 5-6 s, the later ones 4-5.5 s
    first_op = 2

    def __init__(self, spark, seed, work_dir):
        super().__init__(spark, seed, work_dir)
        self.sink = str(work_dir / "sink")
        self.processor = None
        self._batches: list[list[tuple[int, int]]] = []
        self._crawled = 0

    def op_pairs(self, i: int) -> list[tuple[int, int]]:
        """Batch i: pages not sent before, in crawl order, plus (from batch 1
        on) pages re-sent from earlier batches, as re-crawls of a page are."""
        while len(self._batches) <= i:
            j = len(self._batches)
            again_n = self.recurring if j else 0
            fresh = []
            for _ in range(self.batch_size - again_n):
                n, self._crawled = self._crawled, self._crawled + 1
                fresh.append((n % self.entities,
                              1 + (n // self.entities) % (VARIANTS - 1)))
            seen = sorted({p for b in self._batches for p in b})
            again = random.Random(f"{self.seed}/batch/{j}").sample(
                seen, again_n)
            self._batches.append(fresh + again)
        return self._batches[i]

    def query_pages(self, i: int):
        urls = [f"https://site{e}.example/{v}" for e, v in self.op_pairs(i)]
        return self.pool.filter(F.col("url").isin(urls))

    def warm_up(self) -> int:
        """No tiny link: the fit and the warm batch 0 of set-up spawn the
        Python workers and import the kernels."""
        return 0

    def fit(self, tracer=None) -> dict:
        before = storage_mb(self.spark)
        with span(tracer, "fit") as s:
            self.fitted = fit_master(extract_pages_names(self.master),
                                     "url", "name", config=self.cfg)
            s["rows_out"] = self.entities
        s["storage_mb"] = storage_mb(self.spark) - before
        self.processor = linkage_batch_processor(
            self.spark, self.fitted, "url", "name", self.cfg, self.sink,
            extract=True)
        return s

    def op(self, i: int) -> dict:
        self.processor(self.query_pages(i), i)
        return {"queries": len(self.op_pairs(i))}

    def sink_rows(self) -> dict[int, list[tuple]]:
        """Committed rows per batch id, read back after the timed loop."""
        out: dict[int, list[tuple]] = {}
        for r in self.spark.read.parquet(self.sink).select(
                "a_id", "b_id", "score", "source", BATCH_ID_COL).collect():
            out.setdefault(r[4], []).append(tuple(r[:4]))
        return out

    def link_once(self, q_pages, probe=None) -> list[tuple]:
        """The processor's link without the sink write."""
        prep = _prepare(extract_pages_names(q_pages), "url", "name", None,
                        self.cfg).persist()
        try:
            out = match_names(self.spark, prep, None, "url", "name",
                              config=dataclasses.replace(
                                  self.cfg, cache_intermediates=False),
                              fitted=self.fitted)
            return self.materialize(out, probe)["rows"]
        finally:
            prep.unpersist()


WORKLOADS = {w.name: w for w in (LinkPrefix, LinkGrouped, ServeBatches)}


def link_plan_probe(s: dict):
    """Probe for a link's result DataFrame: plan shape into span ``s``."""
    def probe(df):
        s["plan_exchanges"] = plan_exchanges(df)
        s["plan_python_nodes"] = plan_python_nodes(df)
    return probe
