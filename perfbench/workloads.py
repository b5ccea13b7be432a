"""Benchmark workloads: inputs, the timed job, output checks and the traced
rebuild of each job from the engine's public layer functions.

A job is one call through the engine's public surface followed by full
materialization. ``check`` compares a job's output against an independent
computation (the registry's DuckDB oracle SQL, or for ``pipeline`` a DuckDB
re-implementation of the reference workflow) and runs outside the timed
interval. ``traced`` rebuilds the same job stage by stage, materializing
after each stage under a span named after the layer it calls into.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import time
import types
from dataclasses import dataclass
from typing import Callable

import duckdb
import pandas as pd

import gen

# Layer spans every traced job reports. The runner opens an empty span for
# each one a workload bypasses, so its time reads the tracer's own cost
# (microseconds) instead of a constant.
LAYER_SPANS = (
    "sources.read",
    "functions.tokenize",
    "functions.tfidf",
    "functions.minhash",
    "operators.dedup.lsh",
    "operators.dedup.verify",
    "operators.components",
    "operators.similarity.join",
    "operators.similarity.argmax",
    "operators.similarity.topk",
    "plans.call",
    "sources.write",
)

TEXT_CORPUS = dict(vocab=30000, zipf=1.05, min_len=40, max_len=200)


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: dict  # size name -> generator parameters
    rows_keys: tuple  # parameters holding the input row counts
    nominal_s: float  # warm job time on a 4-core x86 host, sets the job count
    generate: Callable[[str, int, dict], None]
    job: Callable  # (spark, ctx) -> output
    check: Callable  # (output, ctx) -> (ok, message)
    traced: Callable  # (spark, tracer, ctx) -> (output, counts)
    # False when the job's entry point runs its plans itself and returns no
    # DataFrame; plans.build_s is then its time outside Spark jobs
    returns_plan: bool = True
    # (output, ctx) -> the output to check and fingerprint; runs after the
    # timed interval (``pipeline`` reads back the files its job wrote)
    load: Callable = lambda out, ctx: out


def _materialize(df):
    """Persist and count: the stage's result is computed exactly once and
    later stages read it from the cache instead of recomputing it."""
    df = df.persist()
    return df, df.count()


def _pdf_fingerprint(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    norm = pdf[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    return hashlib.sha256(norm.to_csv(index=False).encode()).hexdigest()


def _duck(path_by_view: dict) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    conn.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for view, path in path_by_view.items():
        conn.execute(f"CREATE VIEW {view} AS SELECT * FROM '{path}'")
    return conn


def _oracle_compare(pdf: pd.DataFrame, query: str, views: dict) -> tuple[bool, str]:
    from similarity_analysis_big_data_spark.plans import registry
    from tests.oracle import compare

    oracle = _duck(views).execute(registry.oracle_sql_map()[query]).df()
    return compare(types.SimpleNamespace(toPandas=lambda: pdf), oracle)


def _query(name: str):
    from similarity_analysis_big_data_spark.plans import registry

    return registry.query_map()[name]


def _call(ctx, fn):
    """Run a registered query call, adding the time until it returns its
    DataFrame (plan building, eager probes, checkpoints) to
    ``ctx["build_s"]`` and the DataFrame to ``ctx["frames"]``."""
    t0 = time.perf_counter()
    df = fn()
    ctx["build_s"] = ctx.get("build_s", 0.0) + time.perf_counter() - t0
    ctx.setdefault("frames", []).append(df)
    return df


# ---------------------------------------------------------------- retrieval


def _retrieval_job(spark, ctx):
    df = _call(ctx, lambda: _query("title_best_abstract")(spark, ctx["dir"]))
    return df.toPandas()


def retrieval_strategy(spark, data_dir: str) -> str:
    """The pair-stage strategy the flagship's auto mode memoized for this
    input ("sparse", "dense" or "unknown" if the memo is not readable)."""
    from similarity_analysis_big_data_spark.plans import similarity

    memo = getattr(similarity, "_AUTO_STRATEGY_CACHE", {})
    verdict = memo.get((spark.sparkContext.applicationId, data_dir))
    if verdict == "sparse":
        return "sparse"
    if isinstance(verdict, tuple) and verdict and verdict[0] == "dense":
        return "dense"
    return "unknown"


def _retrieval_check(pdf, ctx):
    return _oracle_compare(pdf, "title_best_abstract", {"documents": f"{ctx['dir']}/documents.parquet"})


def _retrieval_traced(spark, tr, ctx):
    from pyspark.sql import functions as F

    from similarity_analysis_big_data_spark.functions.text import tokenize
    from similarity_analysis_big_data_spark.functions.tfidf import (
        doc_frequency,
        l2_normalize,
        term_frequency,
        tfidf,
    )
    from similarity_analysis_big_data_spark.operators.similarity import best_match, sparse_cosine_join
    from similarity_analysis_big_data_spark.plans.similarity import TITLE_SAMPLE_MOD, TITLE_TOKENS
    from similarity_analysis_big_data_spark.sources.readers import load_table

    counts = {}
    with tr.span("sources.read"):
        docs, n_docs = _materialize(load_table(spark, ctx["dir"], "documents").select("doc_id", "text"))
    with tr.span("functions.tokenize"):
        abs_terms, n_abs = _materialize(
            docs.select(F.col("doc_id").alias("abstract_id"), F.explode(tokenize(F.lower("text"))).alias("term"))
        )
        title_terms, n_title = _materialize(
            docs.filter(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).select(
                F.col("doc_id").alias("title_id"),
                F.explode(F.slice(tokenize(F.lower("text")), 1, TITLE_TOKENS)).alias("term"),
            )
        )
        counts["functions.term_rows"] = n_abs + n_title
    with tr.span("functions.tfidf"):
        abs_tf = term_frequency(abs_terms, ["abstract_id"])
        df_, _ = _materialize(doc_frequency(abs_tf))
        abs_vec, _ = _materialize(l2_normalize(tfidf(abs_tf, df_, n_docs, ["abstract_id"]), ["abstract_id"]))
        title_vec, _ = _materialize(
            l2_normalize(tfidf(term_frequency(title_terms, ["title_id"]), df_, n_docs, ["title_id"], left=True), ["title_id"])
        )
    with tr.span("operators.similarity.join"):
        pairs, n_pairs = _materialize(
            sparse_cosine_join(title_vec, abs_vec, "title_id", "abstract_id", round_to=9, spread_left=True)
        )
    with tr.span("operators.similarity.argmax"):
        all_titles = docs.filter(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).select(F.col("doc_id").alias("title_id"))
        top = best_match(pairs, "title_id", "abstract_id", all_queries=all_titles)
        pdf = top.select(
            "title_id",
            F.coalesce("abstract_id", F.lit(-1)).alias("best_abstract_id"),
            F.round("cosine", 6).alias("cosine"),
        ).toPandas()
    counts["operators.similarity.pair_rows"] = _join_rows(title_vec, abs_vec)
    counts["operators.similarity.useful_ratio"] = int((pdf["best_abstract_id"] >= 0).sum()) / max(1, counts["operators.similarity.pair_rows"])
    counts["operators.similarity.scored_pairs"] = n_pairs
    return pdf, counts


def _join_rows(left, right) -> int:
    """Rows the term join of two long-format vectors emits before any
    aggregation: sum over terms of left-count x right-count."""
    from pyspark.sql import functions as F

    lc = left.groupBy("term").agg(F.count("*").alias("l"))
    rc = right.groupBy("term").agg(F.count("*").alias("r"))
    row = lc.join(rc, "term").agg(F.sum(F.col("l") * F.col("r")).alias("n")).collect()[0]
    return int(row["n"] or 0)


# ---------------------------------------------------------------- dedup


def _dedup_job(spark, ctx):
    df = _call(ctx, lambda: _query("near_dup_survivors")(spark, ctx["dir"]))
    return df.toPandas()


# The registry oracle counts common shingles for EVERY pair sharing one,
# re-evaluates each CTE per reference and closes components with a recursive
# CTE; on a Zipf corpus that takes minutes at 800 sampled docs. The check
# runs the oracle's own CTEs up to ``dup_pairs`` (materialized, with common
# shingles counted for LSH candidates only, which yields the same pairs) and
# closes the components with a union-find. If the oracle's text ever stops
# matching these anchors, the check raises.
_ALL_PAIRS_INTER = "FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id"
_CANDIDATE_INTER = (
    "FROM cand c JOIN shingles a ON a.doc_id = c.id_l "
    "JOIN shingles b ON b.doc_id = c.id_r AND b.shingle = a.shingle"
)
_CLOSURE_START = ",\n    edges AS ("


def _dedup_reference(data_dir: str) -> pd.DataFrame:
    from similarity_analysis_big_data_spark.plans import registry
    from similarity_analysis_big_data_spark.plans.dedup import SAMPLE_MOD

    path = f"{data_dir}/documents.parquet"
    sql = registry.oracle_sql_map()["near_dup_survivors"]
    if _ALL_PAIRS_INTER not in sql or _CLOSURE_START not in sql:
        raise ValueError("near_dup_survivors oracle SQL changed; update the anchors in perfbench/workloads.py")
    head = sql.replace(_ALL_PAIRS_INTER, _CANDIDATE_INTER)
    head = head[: head.index(_CLOSURE_START)].replace("WITH RECURSIVE", "WITH", 1)
    head = re.sub(r"(^|,|WITH)(\s*)(\w+) AS \(", r"\1\2\3 AS MATERIALIZED (", head, flags=re.M)
    pairs = _duck({"documents": path}).execute(head + "\nSELECT id_l, id_r FROM dup_pairs").fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in parent if find(x) != x}
    docs = pd.read_parquet(path, columns=["doc_id", "lang", "source", "n_chars"])
    keep = (docs["doc_id"] % SAMPLE_MOD == 0) & ~docs["doc_id"].isin(losers)
    return docs[keep].reset_index(drop=True)


def _dedup_check(pdf, ctx):
    from tests.oracle import compare

    return compare(types.SimpleNamespace(toPandas=lambda: pdf), _dedup_reference(ctx["dir"]))


def _dedup_traced(spark, tr, ctx):
    from pyspark.sql import functions as F

    from similarity_analysis_big_data_spark.functions.text import tokenize
    from similarity_analysis_big_data_spark.operators.components import dedup_survivors
    from similarity_analysis_big_data_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from similarity_analysis_big_data_spark.plans.dedup import SAMPLE_MOD
    from similarity_analysis_big_data_spark.sources.readers import load_table

    counts = {}
    with tr.span("sources.read"):
        docs, _ = _materialize(
            load_table(spark, ctx["dir"], "documents").filter(F.col("doc_id") % SAMPLE_MOD == 0)
        )
    with tr.span("functions.tokenize"):
        shingles, n_sh = _materialize(
            docs.select("doc_id", F.explode(F.array_distinct(tokenize(F.lower("text")))).alias("shingle"))
        )
        counts["functions.term_rows"] = n_sh
    with tr.span("functions.minhash"):
        sigs, _ = _materialize(minhash_signatures(shingles, "doc_id"))
    with tr.span("operators.dedup.lsh"):
        cand, n_cand = _materialize(lsh_candidate_pairs(sigs, "doc_id"))
    with tr.span("operators.dedup.verify"):
        dup_pairs, n_dup = _materialize(
            jaccard_pairs(shingles, "doc_id", candidates=cand, assume_distinct=True, threshold=(1, 2)).filter(
                F.col("jaccard") >= 0.5
            )
        )
    with tr.span("operators.components"):
        pdf = (
            dedup_survivors(docs, dup_pairs, "doc_id", iteration_shuffle_partitions=8)
            .select("doc_id", "lang", "source", "n_chars")
            .toPandas()
        )
    counts["operators.dedup.candidates"] = n_cand
    counts["operators.dedup.verified_ratio"] = n_dup / max(1, n_cand)
    return pdf, counts


# ---------------------------------------------------------------- search


def _search_job(spark, ctx):
    ann = _call(ctx, lambda: _query("ann_bruteforce_topk")(spark, ctx["dir"])).toPandas()
    knn = _call(ctx, lambda: _query("knn_graph_edges")(spark, ctx["dir"])).toPandas()
    return ann, knn


def _search_check(out, ctx):
    views = {"embeddings": f"{ctx['dir']}/embeddings.parquet"}
    for pdf, query in zip(out, ("ann_bruteforce_topk", "knn_graph_edges")):
        ok, msg = _oracle_compare(pdf, query, views)
        if not ok:
            return False, f"{query}: {msg}"
    return True, "ok"


def _search_traced(spark, tr, ctx):
    from pyspark.sql import functions as F

    from similarity_analysis_big_data_spark.operators.similarity import dense_topk_neighbors
    from similarity_analysis_big_data_spark.plans.ann import QUERY_MOD, TOP_K
    from similarity_analysis_big_data_spark.sources.readers import load_table

    counts = {}
    with tr.span("sources.read"):
        emb, n = _materialize(load_table(spark, ctx["dir"], "embeddings"))
    with tr.span("operators.similarity.topk"):
        queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        n_q = queries.count()
        ann = dense_topk_neighbors(
            queries, emb, "query_id", "query_vec", "vec_id", "embedding", TOP_K, round_to=6
        ).toPandas()
    # The kNN graph is built from plan-private helpers (IVF assignment), so
    # it is traced as one call into the plans layer.
    with tr.span("plans.call"):
        knn = _query("knn_graph_edges")(spark, ctx["dir"]).toPandas()
    counts["operators.similarity.scored_pairs"] = n_q * (n - 1)
    counts["functions.term_rows"] = 0
    return (ann, knn), counts


# ---------------------------------------------------------------- pipeline


def _pipeline_paths(ctx) -> list[str]:
    d, o = ctx["dir"], ctx["out"]
    return [
        f"{d}/papers.json",
        f"{d}/stopwords.txt",
        f"{o}/accuracy",
        f"{o}/results",
        f"{o}/samples",
        f"{o}/heatmap.png",
    ]


def _pipeline_job(spark, ctx):
    from similarity_analysis_big_data_spark.__main__ import run_pipeline

    run_pipeline(spark, *_pipeline_paths(ctx))


def read_pipeline_outputs(_out, ctx) -> dict:
    """The accuracy line, results table and samples table a pipeline run
    wrote, read back with pyarrow/pandas (no Spark)."""
    out_dir = ctx["out"]
    acc = "".join(
        open(p, encoding="utf-8").read() for p in sorted(glob.glob(f"{out_dir}/accuracy/part-*"))
    ).strip()
    results = pd.concat(
        [pd.read_parquet(p) for p in sorted(glob.glob(f"{out_dir}/results/*.parquet"))], ignore_index=True
    )
    samples = pd.concat(
        [pd.read_csv(p) for p in sorted(glob.glob(f"{out_dir}/samples/part-*.csv"))], ignore_index=True
    )
    return {"accuracy": acc, "results": results, "samples": samples}


_PIPELINE_SQL = r"""
WITH papers AS (
    SELECT * FROM read_json('{papers}', format = 'newline_delimited',
        columns = {{'id': 'VARCHAR', 'title': 'VARCHAR', 'abstract': 'VARCHAR', 'categories': 'VARCHAR'}})
),
n AS (SELECT count(*) AS n FROM papers),
toks AS (
    SELECT id,
           list_filter(string_split_regex(regexp_replace(lower(title), '(\d|\W)+', ' ', 'g'), '[^\w]+'),
                       t -> t <> '' AND NOT list_contains({stop}, t)) AS tt,
           list_filter(string_split_regex(regexp_replace(lower(abstract), '(\d|\W)+', ' ', 'g'), '[^\w]+'),
                       t -> t <> '' AND NOT list_contains({stop}, t)) AS at
    FROM papers
),
a_tf AS (SELECT id AS abstract_id, term, count(*) AS tf FROM toks, unnest(at) AS u(term) GROUP BY 1, 2),
t_tf AS (SELECT id AS title_id, term, count(*) AS tf FROM toks, unnest(tt) AS u(term) GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM a_tf GROUP BY term),
a_w AS (SELECT abstract_id, term, (1 + log10(tf)) * (log10((n + 1) / (df + 1)) + 1) AS w
        FROM a_tf JOIN df USING (term) CROSS JOIN n),
a_vec AS (SELECT abstract_id, term, w / sqrt(sum(w * w) OVER (PARTITION BY abstract_id)) AS weight FROM a_w),
t_w AS (SELECT title_id, t.term, (1 + log10(t.tf)) * (log10((n + 1) / (coalesce(df.df, 0) + 1)) + 1) AS w
        FROM t_tf t LEFT JOIN df ON t.term = df.term CROSS JOIN n),
t_vec AS (SELECT title_id, term, w / sqrt(sum(w * w) OVER (PARTITION BY title_id)) AS weight FROM t_w),
cosine AS (SELECT title_id, abstract_id, round(sum(t.weight * a.weight), 9) AS cosine
           FROM t_vec t JOIN a_vec a USING (term) GROUP BY 1, 2),
ranked AS (SELECT *, row_number() OVER (PARTITION BY title_id ORDER BY cosine DESC, abstract_id) AS rn
           FROM cosine)
SELECT p.id AS title_id, r.abstract_id, coalesce(r.cosine, 0.0) AS cosine
FROM papers p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.title_id = p.id
"""


def pipeline_reference(ctx) -> tuple[float, pd.DataFrame]:
    """Task 1 of the reference workflow computed in DuckDB: (accuracy,
    per-title best abstract)."""
    d = ctx["dir"]
    stop = [w for w in open(f"{d}/stopwords.txt", encoding="ascii").read().split("\n")]
    stop_sql = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in stop) + "]::VARCHAR[]"
    conn = duckdb.connect()
    conn.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    best = conn.execute(_PIPELINE_SQL.format(papers=f"{d}/papers.json", stop=stop_sql)).df()
    acc = float((best["title_id"] == best["abstract_id"]).sum()) / len(best)
    return acc, best


def _pipeline_check(out, ctx):
    acc, best = pipeline_reference(ctx)
    got_acc = float(out["accuracy"].split(",")[1].strip(" )"))
    if abs(got_acc - acc) > 1e-12:
        return False, f"accuracy {got_acc} != reference {acc}"
    res = out["results"].sort_values("title_id").reset_index(drop=True)
    ref = best.sort_values("title_id").reset_index(drop=True)
    if len(res) != len(ref) or list(res["title_id"]) != list(ref["title_id"]):
        return False, f"results cover {len(res)} titles, reference {len(ref)}"
    same_id = (res["abstract_id"].fillna("") == ref["abstract_id"].fillna("")).all()
    if not same_id or (res["cosine"] - ref["cosine"]).abs().max() > 2e-9:
        return False, "results differ from reference best matches"
    mism = ref[ref["abstract_id"].notna() & (ref["title_id"] != ref["abstract_id"])]["title_id"]
    want = sorted(mism)[:5]
    if sorted(out["samples"]["title_id"]) != want:
        return False, f"samples {sorted(out['samples']['title_id'])} != first mismatches {want}"
    return True, "ok"


def _pipeline_traced(spark, tr, ctx):
    from pyspark.sql import functions as F

    from similarity_analysis_big_data_spark.__main__ import mismatch_sample_report
    from similarity_analysis_big_data_spark.functions.tfidf import doc_frequency, l2_normalize, term_frequency, tfidf
    from similarity_analysis_big_data_spark.operators.similarity import (
        best_match,
        retrieval_accuracy,
        sparse_cosine_join,
    )
    from similarity_analysis_big_data_spark.plans.pipeline import COSINE_DECIMALS, preprocess_papers, tfidf_vectors
    from similarity_analysis_big_data_spark.sources.readers import read_papers_json, read_stopwords
    from similarity_analysis_big_data_spark.sources.writers import write_csv, write_parquet, write_text

    papers_path, stop_path, acc_out, res_out, samp_out, _ = _pipeline_paths(ctx)
    counts = {}
    with tr.span("sources.read"):
        papers = read_papers_json(spark, papers_path)
        if "_corrupt_record" in papers.columns:
            papers = papers.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        papers, n_docs = _materialize(papers)
        stopwords = read_stopwords(spark, stop_path)
    with tr.span("functions.tokenize"):
        prep, _ = _materialize(preprocess_papers(papers, stopwords))
        a_terms, n_a = _materialize(prep.select(F.col("id").alias("abstract_id"), F.explode("abstract_tokens").alias("term")))
        t_terms, n_t = _materialize(prep.select(F.col("id").alias("title_id"), F.explode("title_tokens").alias("term")))
        counts["functions.term_rows"] = n_a + n_t
    with tr.span("functions.tfidf"):
        a_tf = term_frequency(a_terms, ["abstract_id"])
        df_, _ = _materialize(doc_frequency(a_tf))
        a_vec, _ = _materialize(l2_normalize(tfidf(a_tf, df_, n_docs, ["abstract_id"]), ["abstract_id"]))
        t_vec, _ = _materialize(tfidf_vectors(t_terms, df_, n_docs, "title_id", left=True))
    with tr.span("operators.similarity.join"):
        pairs, n_pairs = _materialize(
            sparse_cosine_join(t_vec, a_vec, "title_id", "abstract_id", round_to=COSINE_DECIMALS)
        )
    with tr.span("operators.similarity.argmax"):
        matches, _ = _materialize(
            best_match(pairs, "title_id", "abstract_id", all_queries=prep.select(F.col("id").alias("title_id")))
        )
        accuracy = retrieval_accuracy(matches, "title_id", "abstract_id", n_queries=n_docs)
        line = accuracy.select(
            F.concat(F.lit("('accuracy', "), F.col("accuracy").cast("string"), F.lit(")")).alias("value")
        )
        line, _ = _materialize(line)
    with tr.span("plans.call"):
        report, _ = _materialize(mismatch_sample_report(matches, papers))
    with tr.span("sources.write"):
        write_text(line, acc_out)
        write_parquet(matches, res_out, single_file=True)
        write_csv(report, samp_out, single_file=True)
    counts["sources.write_bytes"] = sum(
        os.path.getsize(p) for o in (acc_out, res_out, samp_out) for p in glob.glob(f"{o}/part-*")
    )
    counts["operators.similarity.pair_rows"] = _join_rows(t_vec, a_vec)
    answered = matches.filter(F.col("abstract_id").isNotNull()).count()
    counts["operators.similarity.useful_ratio"] = answered / max(1, counts["operators.similarity.pair_rows"])
    counts["operators.similarity.scored_pairs"] = n_pairs
    return None, counts


def pipeline_fingerprint(out: dict) -> str:
    h = hashlib.sha256(out["accuracy"].encode())
    h.update(_pdf_fingerprint(out["results"]).encode())
    h.update(_pdf_fingerprint(out["samples"]).encode())
    return h.hexdigest()


def fingerprint(out) -> str:
    if isinstance(out, dict):
        return pipeline_fingerprint(out)
    if isinstance(out, tuple):
        return hashlib.sha256("".join(fingerprint(p) for p in out).encode()).hexdigest()
    return _pdf_fingerprint(out)


WORKLOADS = {
    "retrieval": Workload(
        name="retrieval",
        sizes={"full": dict(docs=1000, **TEXT_CORPUS), "tiny": dict(docs=200, **TEXT_CORPUS)},
        rows_keys=("docs",),
        nominal_s=2.5,
        generate=gen.gen_documents,
        job=_retrieval_job,
        check=_retrieval_check,
        traced=_retrieval_traced,
    ),
    "dedup": Workload(
        name="dedup",
        sizes={
            "full": dict(docs=4000, dup_share=0.3, edit_rate=0.05, sample_mod=5, **TEXT_CORPUS),
            "tiny": dict(docs=500, dup_share=0.3, edit_rate=0.05, sample_mod=5, **TEXT_CORPUS),
        },
        rows_keys=("docs",),
        nominal_s=3.0,
        generate=gen.gen_documents,
        job=_dedup_job,
        check=_dedup_check,
        traced=_dedup_traced,
    ),
    "pipeline": Workload(
        name="pipeline",
        sizes={
            "full": dict(docs=200, title_len=6, n_stop=50, **TEXT_CORPUS),
            "tiny": dict(docs=40, title_len=6, n_stop=50, **TEXT_CORPUS),
        },
        rows_keys=("docs",),
        nominal_s=5.5,
        returns_plan=False,
        load=read_pipeline_outputs,
        generate=gen.gen_papers,
        job=_pipeline_job,
        check=_pipeline_check,
        traced=_pipeline_traced,
    ),
    "search": Workload(
        name="search",
        sizes={
            "full": dict(rows=2000, dim=64, clusters=16, spread=0.3),
            "tiny": dict(rows=1000, dim=64, clusters=16, spread=0.3),
        },
        rows_keys=("rows",),
        nominal_s=2.0,
        generate=gen.gen_embeddings,
        job=_search_job,
        check=_search_check,
        traced=_search_traced,
    ),
}


def _combine(name: str, first: Workload, second: Workload, nominal_s: float) -> Workload:
    """A workload whose job runs ``first``'s job, then ``second``'s, in the
    same session on both inputs (their generator parameters share no key).
    ``nominal_s`` is measured, not summed: early in a session the pair runs
    slower than its parts do after a run of their own.
    Checks, loads and the traced rebuild run both in turn; the counts of the
    two rebuilds are summed (they share only ``functions.term_rows``)."""
    assert first.returns_plan and second.returns_plan

    def generate(out_dir, seed, p):
        first.generate(out_dir, seed, p)
        second.generate(out_dir, seed, p)

    def check(out, ctx):
        for w, o in zip((first, second), out):
            ok, msg = w.check(o, ctx)
            if not ok:
                return False, f"{w.name}: {msg}"
        return True, "ok"

    def traced(spark, tr, ctx):
        out_a, counts_a = first.traced(spark, tr, ctx)
        out_b, counts_b = second.traced(spark, tr, ctx)
        counts = {k: counts_a.get(k, 0) + counts_b.get(k, 0) for k in counts_a.keys() | counts_b.keys()}
        return (out_a, out_b), counts

    return Workload(
        name=name,
        sizes={k: {**first.sizes[k], **second.sizes[k]} for k in first.sizes},
        rows_keys=first.rows_keys + second.rows_keys,
        nominal_s=nominal_s,
        generate=generate,
        job=lambda spark, ctx: (first.job(spark, ctx), second.job(spark, ctx)),
        check=check,
        traced=traced,
        load=lambda out, ctx: (first.load(out[0], ctx), second.load(out[1], ctx)),
    )


# Near-dup removal and similarity search in one job: each alone would pay a
# full session set-up and cold first job per run, which a comparison's time
# budget has no room for (see NOTES.md).
WORKLOADS["dedup_search"] = _combine("dedup_search", WORKLOADS["dedup"], WORKLOADS["search"], nominal_s=5.5)
