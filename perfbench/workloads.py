"""The three workloads: what each stages, calls, times and verifies.

Every workload is a closed loop with one client: a *pass* issues the
workload's public calls one after another, each after the previous one
finished, and the harness repeats passes until the run's time is up.

* ``extract``: one ``sources.lineage.run_extraction`` call per pass into a
  fresh parquet sink and lineage table.
* ``dedup_graph``: ``minhash_signatures``, ``lsh_candidate_pairs``,
  ``jaccard_verified_pairs``, ``dedup_clusters``, ``training_corpus``,
  each written to the ``noop`` sink.
* ``embedding_ann``: ``cosine_topk``, ``ann_topk_in_bucket``,
  ``ann_ivf_topk``, ``embedding_near_dup``, ``semantic_dedup``, each
  written to the ``noop`` sink.

The warm-up pass (part of ``setup_s``) runs the same calls on a small
verification table from the same seed and collects their outputs; those
outputs are checked outside every clock.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from perfbench import inputs
from perfbench.digest import digest

# --- sizes (rows); chosen so one pass takes a few seconds at local[4] ------
EXTRACT_PAGES = 8_000
EXTRACT_BUCKETS = 16
EXTRACT_BUCKETS_PER_JOB = 4
# FIXTURES.md edge-case moduli (empty body, all boilerplate, malformed
# markup, foreign charset): the byte-identity sample holds a page of each
ORACLE_MODULI = (97, 89, 83, 79)
ORACLE_SAMPLE = 200
BLOCKS_SAMPLE = 2_000

DOCS_BASE, DOCS_REPLICAS = 500, 5
DOCS_VERIFY_BASE, DOCS_VERIFY_REPLICAS = 150, 4
EMB_BASE, EMB_REPLICAS = 1_000, 6
EMB_VERIFY_BASE, EMB_VERIFY_REPLICAS = 100, 4

# The thresholds ``__spark_entry__``'s queries pass to these operators, so
# their ``oracle_sql()`` twins apply unchanged.
EMB_THRESHOLD = 0.3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name: str
    n_rows: int
    n_checks = 1  # checks ``verify`` makes

    def __init__(self):
        # measurements ``after_pass`` takes from each pass's output
        self.records: list[dict] = []

    def stage(self, spark, work: str, seed: int) -> None: ...
    def calls(self, spark) -> list[tuple[str, object]]: ...
    def warmup(self, spark) -> None: ...
    def verify(self, work: str, seed: int) -> list[str]: ...
    def after_pass(self, spark) -> list[str]:
        return []
    def probe(self, spark, tracer) -> dict: ...
    def layers(self, tracer, per_span: dict, probes: dict) -> dict: ...


# ------------------------------------------------------------------ extract


class Extract(Workload):
    name = "extract"
    n_rows = EXTRACT_PAGES
    n_checks = 0  # its checks run per pass, in ``after_pass``

    def stage(self, spark, work, seed):
        self.seed = seed
        self.pages = inputs.stage_pages(spark, work, seed, EXTRACT_PAGES)
        self.sink_root = os.path.join(work, "sinks")
        shutil.rmtree(self.sink_root, ignore_errors=True)
        self.n_sinks = 0
        self.checked = False

    def _fresh_sink(self) -> tuple[str, str]:
        self.n_sinks += 1
        base = os.path.join(self.sink_root, str(self.n_sinks))
        return base + "_out", base + "_lineage"

    def calls(self, spark):
        from manga_translator_spark.sources.lineage import run_extraction
        from manga_translator_spark.sources.pages import read_pages

        def call():
            out, lin = self._fresh_sink()
            run_extraction(
                spark, read_pages(spark, self.pages), out, lin,
                n_buckets=EXTRACT_BUCKETS, buckets_per_job=EXTRACT_BUCKETS_PER_JOB,
            )
            self.last = out, lin

        return [("sources.lineage.run_extraction", call)]

    def warmup(self, spark):
        """Nothing beyond the untimed full pass every workload warms up with:
        its output is checked like a timed pass's."""

    def after_pass(self, spark) -> list[str]:
        """Row-count checks on the sink just written, then drop it."""
        from manga_translator_spark.sources.lineage import read_lineage
        from perfbench.layers import dir_bytes

        out, lin = self.last
        errs = sink_counts(spark, out, lin, EXTRACT_PAGES)
        if not self.checked:
            errs += oracle_sample(spark, out, self.seed)
            self.checked = True
        # stage_ms is recorded once per bucket group and repeated on each of
        # the group's bucket rows: keep the group's first bucket
        groups = read_lineage(spark, lin).filter(f"bucket % {EXTRACT_BUCKETS_PER_JOB} = 0")
        stage_ms = [r["stage_ms"] for r in groups.select("stage_ms").collect()]
        self.records.append(
            {k: sum(m.get(k, 0) for m in stage_ms) for k in ("parse_ms", "recognize_ms", "assemble_ms")}
            | {"sink_bytes": dir_bytes(out)}
        )
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(lin, ignore_errors=True)
        return errs

    def verify(self, work, seed):
        return []

    def probe(self, spark, tracer) -> dict:
        """Layer probes outside the timed passes: the single-process block
        parser and recognizer on a fixed page sample, and ``extract`` over
        the same pages table to the noop sink."""
        import time

        from manga_translator_spark.corpus import generate_page
        from manga_translator_spark.functions.blocks import CLS_EMBEDDED_IMG, extract_blocks
        from manga_translator_spark.functions.recognize_kernel import recognize_batch
        from manga_translator_spark.plans.pipeline import extract
        from manga_translator_spark.sources.pages import read_pages

        htmls = [generate_page(i, self.seed)["html"] for i in range(BLOCKS_SAMPLE)]
        with tracer.span("functions.blocks.extract_blocks"):
            t0 = time.perf_counter()
            blocks = [extract_blocks(h) for h in htmls]
            page_us = (time.perf_counter() - t0) / len(htmls) * 1e6
        imgs = [b.img_payload for bs in blocks for b in bs if b.cls == CLS_EMBEDDED_IMG and b.img_payload is not None]
        with tracer.span("functions.recognize_kernel.recognize_batch"):
            t0 = time.perf_counter()
            recognize_batch(imgs)
            ms_per_image = (time.perf_counter() - t0) / max(len(imgs), 1) * 1e3
        for _ in range(2):
            with tracer.span("plans.pipeline.extract"):
                noop(extract(read_pages(spark, self.pages)))
        return {
            "page_us": page_us,
            "ms_per_image": ms_per_image,
            **{k: [r[k] for r in self.records] for k in self.records[0]},
        }

    def layers(self, tracer, per_span, probes) -> dict:
        from perfbench.layers import extract_layers

        return extract_layers(tracer, per_span, probes, self.pages)


def sink_counts(spark, out: str, lin: str, n: int) -> list[str]:
    from pyspark.sql import functions as F

    from manga_translator_spark.sources.lineage import read_lineage

    errs = []
    n_out = spark.read.parquet(out).count()
    if n_out != n:
        errs.append(f"extract: sink holds {n_out} rows, expected {n}")
    lin_df = read_lineage(spark, lin)
    rows_out = lin_df.agg(F.sum("rows_out")).collect()[0][0]
    if rows_out != n:
        errs.append(f"extract: lineage rows_out sums to {rows_out}, expected {n}")
    bad = lin_df.filter(F.col("status") != "done").count()
    if bad:
        errs.append(f"extract: {bad} lineage rows not done")
    return errs


def sample_ids(n_pages: int, seed: int, k: int = ORACLE_SAMPLE) -> list[int]:
    """Seeded page ids that include a page of every FIXTURES modulus."""
    import random

    ids = {m * j for m in ORACLE_MODULI for j in (1, 2) if m * j < n_pages}
    rng = random.Random(f"perfbench:{seed}")
    while len(ids) < min(k, n_pages):
        ids.add(rng.randrange(n_pages))
    return sorted(ids)


def oracle_sample(spark, out: str, seed: int) -> list[str]:
    """``extracted_text`` in the sink is byte-identical to ``oracle.extract_page``."""
    from pyspark.sql import functions as F

    from manga_translator_spark.corpus import generate_page
    from manga_translator_spark.oracle import extract_page

    pages = [generate_page(i, seed) for i in sample_ids(EXTRACT_PAGES, seed)]
    urls = [p["url"] for p in pages]
    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out)
        .filter(F.col("url").isin(urls))
        .select("url", "extracted_text")
        .collect()
    }
    errs = []
    for p in pages:
        want = extract_page(p["url"], p["html"]).extracted_text
        if got.get(p["url"]) != want:
            errs.append(f"extract: {p['url']} differs from the oracle")
    return errs[:5]


# ---------------------------------------------------- twin-checked workloads


class TwinChecked(Workload):
    """A workload whose warm-up outputs are checked against DuckDB twins.

    ``ops`` lists (call name, twin query name, operator, projection of the
    collected columns and rows onto the twin's columns).
    """

    table: str
    ops: list
    n_checks = 5

    def stage(self, spark, work, seed):
        self.sf = inputs.stage_table(work, self.table, seed, self.base, self.replicas)
        self.verify_sf = inputs.stage_table(work, self.table, seed, self.verify_base, self.verify_replicas)
        self.outputs: dict[str, tuple[list[str], list]] = {}

    def frame(self, spark, sf: str):
        return spark.read.parquet(f"{sf}/{self.table}.parquet")

    def calls(self, spark):
        df = self.frame(spark, self.sf)
        return [(name, (lambda fn=fn: noop(fn(df)))) for name, _, fn, _ in self.ops]

    def warmup(self, spark):
        df = self.frame(spark, self.verify_sf)
        for name, _, fn, project in self.ops:
            out = fn(df)
            self.outputs[name] = project(out.columns, [tuple(r) for r in out.collect()])

    def verify(self, work, seed):
        twins = twin_digests(work, self.verify_sf, seed, [q for _, q, _, _ in self.ops])
        errs = []
        for name, query, _, _ in self.ops:
            cols, rows = self.outputs[name]
            got = digest(cols, rows)
            if got != twins[query]:
                errs.append(f"{self.name}: {name} digest differs from twin {query}")
        return errs


def _as_is(cols, rows):
    return cols, rows


def _sig_string(cols, rows):
    """minhash_signatures -> the (doc_id, sig) projection its twin mirrors."""
    i_doc, i_sig = cols.index("doc_id"), cols.index("signature")
    return ["doc_id", "sig"], [
        (r[i_doc], None if r[i_sig] is None else ",".join(str(x) for x in r[i_sig])) for r in rows
    ]


class DedupGraph(TwinChecked):
    name = "dedup_graph"
    table = "documents"
    base, replicas = DOCS_BASE, DOCS_REPLICAS
    verify_base, verify_replicas = DOCS_VERIFY_BASE, DOCS_VERIFY_REPLICAS
    n_rows = DOCS_BASE * DOCS_REPLICAS

    def probe(self, spark, tracer) -> dict:
        """Pair and survivor counts of the timed table, outside the passes."""
        from manga_translator_spark.operators import dedup
        from manga_translator_spark.operators.training import training_corpus

        df = self.frame(spark, self.sf)
        with tracer.span("probe.counts"):
            return {
                "candidate_pairs": dedup.lsh_candidate_pairs(df).count(),
                "verified_pairs": dedup.jaccard_verified_pairs(df).count(),
                "kept_docs": training_corpus(df).count(),
            }

    def layers(self, tracer, per_span, probes) -> dict:
        from perfbench.layers import dedup_layers

        return dedup_layers(tracer, per_span, probes)

    @property
    def ops(self):
        from manga_translator_spark.operators import dedup
        from manga_translator_spark.operators.training import training_corpus

        return [
            ("operators.dedup.minhash_signatures", "minhash_signatures", dedup.minhash_signatures, _sig_string),
            ("operators.dedup.lsh_candidate_pairs", "lsh_candidate_pairs", dedup.lsh_candidate_pairs, _as_is),
            ("operators.dedup.jaccard_verified_pairs", "jaccard_pairs", dedup.jaccard_verified_pairs, _as_is),
            ("operators.dedup.dedup_clusters", "dedup_clusters", dedup.dedup_clusters, _as_is),
            ("operators.training.training_corpus", "training_corpus", training_corpus, _as_is),
        ]


class EmbeddingAnn(TwinChecked):
    name = "embedding_ann"
    table = "embeddings"
    base, replicas = EMB_BASE, EMB_REPLICAS
    verify_base, verify_replicas = EMB_VERIFY_BASE, EMB_VERIFY_REPLICAS
    n_rows = EMB_BASE * EMB_REPLICAS

    def probe(self, spark, tracer) -> dict:
        """Recall of both ANN indexes on the timed table, outside the passes."""
        from pyspark.sql import functions as F

        from manga_translator_spark.operators import similarity as s

        df = self.frame(spark, self.sf)

        def recall(frame) -> float:
            hit, exact = frame.agg(F.sum("n_hit"), F.sum("n_exact")).collect()[0]
            return hit / exact

        with tracer.span("probe.recall"):
            return {
                "ivf_recall": recall(s.ann_recall(df)),
                "bucket_recall": recall(s.ann_bucket_recall(df)),
            }

    def layers(self, tracer, per_span, probes) -> dict:
        from perfbench.layers import similarity_layers

        return similarity_layers(tracer, per_span, probes)

    @property
    def ops(self):
        from manga_translator_spark.operators import similarity as s

        return [
            ("operators.similarity.cosine_topk", "ann_cosine_topk", s.cosine_topk, _as_is),
            ("operators.similarity.ann_topk_in_bucket", "ann_in_bucket_topk", s.ann_topk_in_bucket, _as_is),
            ("operators.similarity.ann_ivf_topk", "ann_ivf_topk", s.ann_ivf_topk, _as_is),
            ("operators.similarity.embedding_near_dup", "embedding_near_dup",
             lambda df: s.embedding_near_dup(df, threshold=EMB_THRESHOLD), _as_is),
            ("operators.similarity.semantic_dedup", "semantic_dedup",
             lambda df: s.semantic_dedup(df, threshold=EMB_THRESHOLD), _as_is),
        ]


WORKLOADS = {w.name: w for w in (Extract, DedupGraph, EmbeddingAnn)}


# -------------------------------------------------------------- twin digests


def twin_sql(sf_dir: str, names: list[str]) -> dict[str, str]:
    """``oracle_sql()`` twins, with data-derived literals (IVF centroids)
    computed from ``sf_dir`` -- the table the twins will run on."""
    import __spark_entry__ as entry_mod

    prev = os.environ.get("SPARK_GRAFT_ORACLE_SF")
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir
    try:
        sql = entry_mod.oracle_sql()
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_ORACLE_SF", None)
        else:
            os.environ["SPARK_GRAFT_ORACLE_SF"] = prev
    return {n: sql[n] for n in names}


def twin_digests(work: str, sf_dir: str, seed: int, names: list[str]) -> dict[str, str]:
    """Digest of each twin's rows over ``sf_dir``.  Cached on disk keyed by
    seed, table directory and the sha256 of the twin SQL text, so a changed
    twin is never served from the cache."""
    import duckdb

    cache_path = os.path.join(work, "twin_digests.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    sql = twin_sql(sf_dir, names)
    out, con = {}, None
    for name in names:
        key = f"{seed}:{os.path.basename(sf_dir)}:{name}:{hashlib.sha256(sql[name].encode()).hexdigest()}"
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                con.sql("SET threads=4")
                for t in ("documents", "embeddings"):
                    p = f"{sf_dir}/{t}.parquet"
                    if os.path.exists(p):
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            rel = con.sql(sql[name])
            cache[key] = digest([d[0] for d in rel.description], rel.fetchall())
        out[name] = cache[key]
    if con is not None:
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return out
