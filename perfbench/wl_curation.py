"""curation: the near-duplicate and similarity operators over a seeded
corpus read from TFRecord shards. Checked against the registered
queries' own DuckDB oracle SQL, run on the same base documents."""

from __future__ import annotations

import gen
from tracing import self_times

# operation -> registered query whose operator variant and oracle it uses
QUERIES = {
    "exact": "dedup_exact",
    "minhash": "dedup_minhash_lsh",
    "prefix_jaccard": "dedup_prefix_filter_jaccard",
    "tfidf_cosine": "dedup_tfidf_cosine_pairs",
    "topk": "similarity_topk_cosine",
}
SPANS = {
    "exact": "dedup.exact",
    "minhash": "dedup.minhash",
    "prefix_jaccard": "dedup.prefix_jaccard",
    "tfidf_cosine": "dedup.tfidf_cosine",
    "topk": "similarity.topk",
}
LSH_BANDS, LSH_ROWS = 6, 2  # 12 hashes, the registered LSH geometry


def _decode_docs(batches):
    """TFRecord payload -> (doc_id, text), in the Python workers."""
    import pyarrow as pa

    from data_pipeline_rsna_spark.sinks.tfrecord import decode_example

    for b in batches:
        ids, texts = [], []
        for p in b.column("payload").to_pylist():
            ex = decode_example(p)
            ids.append(ex["doc_id"][0])
            texts.append(ex["text"][0].decode())
        yield pa.record_batch([pa.array(ids, pa.int64()), pa.array(texts)],
                              names=["doc_id", "text"])


def _canon(table) -> list[tuple]:
    """Rows as sorted tuples over name-sorted columns; floats at 6
    places, integers of any width as int."""
    cols = sorted(table.column_names)
    data = table.select(cols).to_pydict()

    def cell(v):
        if isinstance(v, float):
            return round(v, 6)
        if hasattr(v, "as_integer_ratio") and not isinstance(v, int):
            return int(v)  # Decimal / HUGEINT
        return v

    return sorted(tuple(cell(data[c][i]) for c in cols) for i in range(table.num_rows))


def _shingles(text: str) -> set[str]:
    w = text.lower().split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


class Curation:
    name = "curation"
    ops = ("read",) + tuple(QUERIES)
    sizes = {"full": {"n_docs": 400, "n_vecs": 4000},
             "tiny": {"n_docs": 100, "n_vecs": 300}}

    def generate(self, root, rng, size):
        return gen.curation_corpus(root, rng, **self.sizes[size])

    def reference(self, truth):
        import duckdb
        import pyarrow as pa

        from data_pipeline_rsna_spark.queries import REGISTRY

        con = duckdb.connect()
        con.execute("SET threads = 4")
        base = pa.table({"doc_id": pa.array(range(len(truth["docs"])), pa.int64()),
                         "text": pa.array(truth["docs"])})
        emb = pa.table({"vec_id": pa.array(range(len(truth["vecs"])), pa.int64()),
                        "embedding": pa.array(list(truth["vecs"]), pa.list_(pa.float32()))})
        con.register("_docs", base)
        con.register("_emb", emb)
        con.execute("CREATE TABLE documents AS SELECT * FROM _docs")
        con.execute("CREATE TABLE embeddings AS SELECT * FROM _emb")
        ref = {op: _canon(con.execute(REGISTRY[q].oracle).fetch_arrow_table())
               for op, q in QUERIES.items()}
        con.close()
        ref["read"] = len(truth["corpus"])
        return ref

    def run_pass(self, spark, truth, out_dir, tr):
        from pyspark.sql import functions as F

        from data_pipeline_rsna_spark.operators import dedup
        from data_pipeline_rsna_spark.operators import similarity as sim
        from data_pipeline_rsna_spark.sources.tfrecord_source import scan_tfrecords

        out = {}
        with tr.span("sources.tfrecord.read"):
            corpus = (scan_tfrecords(spark, truth["corpus_dir"])
                      .mapInArrow(_decode_docs, "doc_id long, text string")
                      .persist())
            out["read"] = corpus.count()
        try:
            with tr.span(SPANS["exact"]):
                out["exact"] = (dedup.exact_dedup_groups(corpus)
                                .filter(F.col("n_copies") > 1).toArrow())
            with tr.span(SPANS["minhash"]):
                out["minhash"] = dedup.minhash_lsh_candidates_adaptive(
                    corpus, num_hashes=LSH_BANDS * LSH_ROWS,
                    rows_per_band=LSH_ROWS, shingle_n=3).toArrow()
            with tr.span(SPANS["prefix_jaccard"]):
                out["prefix_jaccard"] = dedup.prefix_filter_jaccard_pairs(
                    corpus, threshold=0.95).toArrow()
            with tr.span(SPANS["tfidf_cosine"]):
                out["tfidf_cosine"] = dedup.tfidf_cosine_pairs(
                    corpus, threshold_num=4, threshold_den=5, shingle_n=3).toArrow()
        finally:
            corpus.unpersist()
        with tr.span(SPANS["topk"]):
            emb = spark.read.parquet(truth["emb_path"])
            queries = emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), "embedding")
            out["topk"] = sim.cosine_topk_blas(emb, queries, k=10).toArrow()
        return out

    def check(self, out, ref):
        errs = {}
        if out["read"] != ref["read"]:
            errs["read"] = f"{out['read']} corpus rows read, {ref['read']} written"
        for op in QUERIES:
            got = _canon(out[op])
            if got != ref[op]:
                errs[op] = (f"{len(got)} rows vs {len(ref[op])} in the oracle, "
                            f"{len(set(got) ^ set(ref[op]))} differ")
        return errs

    def layer_metrics(self, out, spans, jobs_of, probe, truth):
        selfs = self_times(spans)

        def shuffle_mb(name):
            return sum(j["shuffle_write_mb"]
                       for j in jobs_of([s for s in spans if s["name"] == name]))

        text = dict(truth["corpus"])
        cand = out["minhash"].to_pydict()
        target = (1.0 / LSH_BANDS) ** (1.0 / LSH_ROWS)
        useful = 0
        for a, b in zip(cand["doc_a"], cand["doc_b"]):
            sa, sb = _shingles(text[a]), _shingles(text[b])
            useful += len(sa & sb) >= target * len(sa | sb)
        n_cand = len(cand["doc_a"])
        return {
            "sources.tfrecord.read_s": selfs["sources.tfrecord.read"],
            "sources.tfrecord.records": out["read"],
            "dedup.exact_s": selfs[SPANS["exact"]],
            "dedup.minhash_s": selfs[SPANS["minhash"]],
            "dedup.lsh_candidates": n_cand,
            "dedup.lsh_useful_ratio": useful / n_cand if n_cand else 0.0,
            "dedup.prefix_jaccard_s": selfs[SPANS["prefix_jaccard"]],
            "dedup.prefix_jaccard_shuffle_mb": shuffle_mb(SPANS["prefix_jaccard"]),
            "dedup.tfidf_cosine_s": selfs[SPANS["tfidf_cosine"]],
            "dedup.tfidf_cosine_shuffle_mb": shuffle_mb(SPANS["tfidf_cosine"]),
            "similarity.topk_s": selfs[SPANS["topk"]],
            "similarity.exec_cpu_s": sum(
                j["exec_cpu_s"]
                for j in jobs_of([s for s in spans if s["name"] == SPANS["topk"]])),
        }
