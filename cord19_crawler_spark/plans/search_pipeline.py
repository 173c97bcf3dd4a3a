"""End-to-end search pipeline: the reference's two main entry points as two
functions.

``build_index``  ≙ reference entry point 1 + 3 (SURVEY.md §3.1/§3.3):
``python src/index.py`` + barrel build — docs → lexicon + barrel-partitioned
postings + doc titles, written as one partitioned dataset. The barrel
subsystem collapses to a partition spec: postings land partitioned by
``barrel_id`` so a query's term routing IS storage partition pruning (the
trie's job, src/singlewordSearch.py:66-77).

``search``  ≙ entry point 2 (§3.2): query → preprocess (P8) → lemma-variant
expansion (P9, same suffix family as the tokenizer stub) → pruned postings
join → TF-IDF + coverage scoring (A9/A10) → top-k → title join (J4).

A doc uploaded after the build is searchable with no rebuild by passing
``delta_docs`` (T2/T3, operators/delta.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import _lemma_one
from ..operators import barrels, indexing
from ..operators.search import preprocess_query, tfidf_search

NUM_BARRELS = 10  # reference default, src/barrel.py:174


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    title_col: str | None = None,
    num_barrels: int = NUM_BARRELS,
    top_n_hot: int = 5000,
) -> dict:
    """One job chain, no driver fold (vs the reference's serial dict fold,
    src/index.py:48-116). Writes:

      <out>/lexicon/                 word, word_id, doc_freq, total_count
      <out>/postings/barrel_id=N/    word, doc_id, tf   (pruned at query time)
      <out>/titles/                  doc_id, title      (if title_col given)
      <out>/_INDEX.json              stats (doc count, vocab size, barrels)
    """
    import time

    t_build_start = time.time()
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).transform(lambda d: indexing.tokens_from_text(d))
    postings = indexing.postings(toks).cache()
    lexicon = indexing.lexicon(toks)
    stats = barrels.word_stats(postings)
    assignment = barrels.assign_barrels(stats, num_barrels, top_n_hot)
    # no broadcast hint: the routing table is VOCABULARY-scale (10^7-10^8
    # words in a web corpus) — let Catalyst/AQE pick BHJ only when the
    # actual size is under the threshold
    routed = postings.join(assignment.select("word", "barrel_id"), "word")
    routed.write.partitionBy("barrel_id").mode("overwrite").parquet(
        os.path.join(out_dir, "postings")
    )
    # word→barrel routing table (J5): tiny, read first at query time so the
    # postings scan prunes to only the barrels holding the query words
    assignment.select("word", "barrel_id").write.mode("overwrite").parquet(
        os.path.join(out_dir, "routing")
    )
    lexicon.write.mode("overwrite").parquet(os.path.join(out_dir, "lexicon"))
    # doclen side table + corpus token mass: the BM25 ranker's length
    # normalization reads these at query time instead of re-aggregating
    # the corpus (the pruned postings scan COULDN'T — it only sees the
    # query words' barrels)
    postings.groupBy("doc_id").agg(F.sum("tf").alias("doclen")).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "doclens"))
    total_tokens = postings.agg(F.sum("tf")).collect()[0][0] or 0
    if title_col:
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(title_col).alias("title")
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "titles"))
    n_docs = docs.count()
    meta = {
        "total_docs": n_docs,
        "vocabulary": postings.select("word").distinct().count(),
        "num_barrels": num_barrels,
        "has_titles": bool(title_col),
        "total_tokens": int(total_tokens),
    }
    postings.unpersist()
    with open(os.path.join(out_dir, "_INDEX.json"), "w") as f:
        json.dump(meta, f)
    _write_index_statistics(
        docs, meta, out_dir, text_col, build_start=t_build_start
    )
    return meta


def _write_index_statistics(
    docs: DataFrame, meta: dict, out_dir: str, text_col: str,
    build_start: float | None = None,
) -> None:
    """Consolidated stats artifact with the reference's field names
    (index_statistics.json, src/index.py:174-199) so a user can diff the
    two engines' builds: totals, POS distribution through the lemmatizer,
    on-disk sizes. One extra aggregation job at build time.

    ``processing_time_minutes`` / ``papers_per_second`` cover the WHOLE
    build (from ``build_index`` entry through this stats job), matching
    what the reference's fields measure — not just this one aggregation."""
    import time

    from ..functions.text import lemmatize_tokens
    from ..operators.indexing import pos_distribution

    t0 = build_start if build_start is not None else time.time()
    pos_rows = pos_distribution(
        docs.select(
            F.explode(lemmatize_tokens(F.col(text_col))).alias("tok")
        ).select(F.col("tok.pos").alias("pos_tag"))
    ).collect()  # bounded: one row per POS tag
    elapsed = time.time() - t0

    def _du(sub: str) -> int:
        total = 0
        root = os.path.join(out_dir, sub)
        for dirpath, _dirs, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    stats = {
        "total_papers_indexed": meta["total_docs"],
        "total_unique_words": meta["vocabulary"],
        "inverted_index_terms": meta["vocabulary"],
        "created_at": time.strftime("%Y-%m-%d %H:%M:%S"),
        "processing_time_minutes": round(elapsed / 60, 3),
        "papers_per_second": round(meta["total_docs"] / elapsed, 1)
        if elapsed > 0
        else 0.0,
        "model_used": _model_used_label(),
        "index_sizes_bytes": {
            "lexicon": _du("lexicon"),
            "forward_index": _du("postings"),
            "inverted_index": _du("postings"),
            "backward_index": _du("postings"),
        },
        "pos_distribution": {r["pos_tag"]: r["cnt"] for r in pos_rows},
    }
    with open(os.path.join(out_dir, "index_statistics.json"), "w") as f:
        json.dump(stats, f, indent=2)


def _model_used_label() -> str:
    """The stats artifact's model_used field reflects the RESOLVED
    lemmatizer backend (functions/text.py seam): the reference reports its
    spaCy model name here (src/index.py:187-ish), so report the real model
    when available, the stub label otherwise."""
    from ..functions.text import resolve_lemmatizer_backend

    if resolve_lemmatizer_backend("auto") == "spacy":
        from ..functions.text import _spacy_model_name

        return _spacy_model_name() or "spacy"
    return "deterministic-lemma-stub (spaCy slot)"


def expand_with_lexicon(
    lexicon_df: DataFrame, terms: list[str]
) -> dict[str, list[str]]:
    """P9 EXACT lemma expansion through the lexicon's stored lemma field —
    the reference's ``expand_word_with_lemmas`` semantics
    (src/multiwordSearch.py:36-44 → src/singlewordSearch.py:441-476):
    variants(t) = {t} ∪ {lexicon[t].lemma}; a term not in the lexicon
    expands to itself (reference fallback returns the word). The lookup is
    a FILTERED collect of ≤ len(terms) rows — never a full-lexicon pull."""
    rows = (
        lexicon_df.filter(F.col("word").isin(list(terms)))
        .select("word", "lemma")
        .collect()
    )
    lemma_of = {r["word"]: r["lemma"] for r in rows}
    return {
        t: [t] + ([lemma_of[t]] if lemma_of.get(t, t) != t else [])
        for t in terms
    }


def _expand_variants(terms: list[str]) -> dict[str, list[str]]:
    """Heuristic fallback expansion for indexes built WITHOUT a lexicon
    (raw-token postings): the term itself plus every single-suffix strip in
    the stub's suffix family ('vaccines' → vaccines, vaccine, vaccin), so
    raw-token indexes match whichever inflection a document used. When the
    index ships a lexicon, :func:`expand_with_lexicon` (P9 exact) is used
    instead."""
    from ..functions.text import _SUFFIXES

    out = {}
    for t in terms:
        variants = [t]
        for suf in _SUFFIXES:
            if t.endswith(suf) and len(t) - len(suf) >= 3:
                base = t[: -len(suf)]
                if suf == "ies":
                    base += "y"
                if base not in variants:
                    variants.append(base)
        lemma = _lemma_one(t)
        if lemma not in variants:
            variants.append(lemma)
        out[t] = variants
    return out


def autocomplete(
    spark: SparkSession, index_dir: str, prefix: str, k: int = 5
) -> DataFrame:
    """Prefix completions by corpus frequency (reference trie with per-node
    top-5 caches, src/autocomplete.py:51-73 → filter + rank over the tiny
    lexicon; prefixes shorter than 2 chars rejected like src/app.py:139)."""
    if len(prefix) < 2:
        raise ValueError("prefix must be >= 2 chars")
    lex = spark.read.parquet(os.path.join(index_dir, "lexicon"))
    return (
        lex.filter(F.col("word").startswith(prefix))
        .orderBy(F.desc("total_count"), F.asc("word"))
        .limit(k)
        .select("word", "total_count")
    )


def _with_delta_doclens(
    doclens: DataFrame, total_tokens: float, delta_p: DataFrame
) -> tuple[DataFrame, float]:
    """BM25 corpus statistics with uploaded docs merged in: their exact
    doclens (tf summed per doc over the upload-scale delta postings) are
    appended, and their token mass is added to ``total_tokens``.  The
    doc_id types align the way merged_postings aligns them."""
    d_lens = delta_p.groupBy("doc_id").agg(F.sum("tf").alias("doclen"))
    if dict(doclens.dtypes)["doc_id"] != dict(d_lens.dtypes)["doc_id"]:
        doclens = doclens.withColumn("doc_id", F.col("doc_id").cast("string"))
        d_lens = d_lens.withColumn("doc_id", F.col("doc_id").cast("string"))
    delta_tokens = float(delta_p.agg(F.sum("tf")).collect()[0][0] or 0)
    return doclens.unionByName(d_lens), total_tokens + delta_tokens


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int | None = 20,
    delta_docs: DataFrame | None = None,
    ranker: str = "tfidf",
) -> DataFrame:
    """Ranked search over a built index; optional read-time delta merge.
    ``k=None`` returns ALL matched docs score-ordered (serving layer's
    total_hits path, serving.py).

    ``ranker``: ``"tfidf"`` (the reference's exact formula, with lemma-
    variant expansion) or ``"bm25"`` (Okapi BM25 over the raw query
    terms — length-normalized, tf-saturating; no variant expansion, the
    standard formulation).  BM25's corpus statistics (doclens, token
    mass) come from the index side tables written at build time, so the
    served query still reads ONLY the query words' barrels; an index
    built before the doclens table existed falls back to a full postings
    aggregate (correct, one extra corpus scan).
    """
    if ranker not in ("tfidf", "bm25"):
        raise ValueError(f"ranker must be tfidf|bm25, got {ranker!r}")
    with open(os.path.join(index_dir, "_INDEX.json")) as f:
        meta = json.load(f)
    terms = preprocess_query(query)
    if not terms:
        # same schema as the non-empty branch (doc_id type from the stored
        # postings; title column present iff the index has titles) so
        # all-stopword queries union cleanly with real results
        empty = (
            spark.read.parquet(os.path.join(index_dir, "postings"))
            .select("doc_id")
            .limit(0)
            .withColumn("score", F.lit(0.0))
            .withColumn("matched_terms", F.lit(0).cast("int"))
        )
        if meta.get("has_titles"):
            empty = empty.withColumn("title", F.lit(None).cast("string"))
        return empty
    # P9: lexicon-backed lemma expansion (reference expand_word_with_lemmas —
    # the stored lemma field decides), then the heuristic strip family as
    # stub-compensation: the deterministic lemma stub is cruder than the
    # reference's spaCy model ('vaccines'→'vaccin', not 'vaccine'), and this
    # index stores raw tokens, so the extra single-strip variants restore the
    # inflection cross-match spaCy lemmas would have given. Exact reference
    # semantics alone = expand_with_lexicon (driver query
    # lemma_variant_expansion validates it against the DuckDB oracle).
    lex = spark.read.parquet(os.path.join(index_dir, "lexicon"))
    if "lemma" in lex.columns:
        variants = expand_with_lexicon(lex, terms)
        for t, extra in _expand_variants(terms).items():
            for v in extra:
                if v not in variants[t]:
                    variants[t].append(v)
    else:
        variants = _expand_variants(terms)
    all_words = sorted({v for vs in variants.values() for v in vs})

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    # term routing = partition pruning (J5; replaces the trie): consult the
    # TINY routing table, then scan only the matching barrel directories
    routing = spark.read.parquet(os.path.join(index_dir, "routing"))
    barrels_needed = [
        r["barrel_id"]
        for r in routing.filter(F.col("word").isin(all_words))
        .select("barrel_id")
        .distinct()
        .collect()
    ]
    pruned = postings.filter(F.col("barrel_id").isin(barrels_needed)).drop(
        "barrel_id"
    )
    total_docs = meta["total_docs"]
    delta_p = None
    if delta_docs is not None:
        from ..operators.delta import merged_postings
        from ..operators.indexing import postings as _mk_postings
        from ..operators.indexing import tokens_from_text

        delta_p = _mk_postings(tokens_from_text(delta_docs))
        pruned = merged_postings(pruned, delta_docs)
        total_docs += delta_docs.count()
    if ranker == "bm25":
        from ..operators.search import bm25_search

        doclens_dir = os.path.join(index_dir, "doclens")
        if os.path.isdir(doclens_dir) and "total_tokens" in meta:
            doclens = spark.read.parquet(doclens_dir)
            total_tokens = float(meta["total_tokens"])
        else:
            # pre-doclens index layout: derive the stats from the FULL
            # (unpruned) postings — one extra corpus scan.  Passing None
            # here made bm25_search fall back to the barrel-PRUNED frame,
            # so doclen/avgdl/token mass covered only the query words'
            # barrels — wrong BM25 length normalization (r5 ADVICE).
            doclens = postings.groupBy("doc_id").agg(
                F.sum("tf").alias("doclen")
            )
            total_tokens = float(
                postings.agg(F.sum("tf")).collect()[0][0] or 0
            )
        if delta_p is not None:
            doclens, total_tokens = _with_delta_doclens(
                doclens, total_tokens, delta_p
            )
        results = bm25_search(
            pruned, terms, total_docs, k=k,
            doclens=doclens, total_tokens=total_tokens,
        )
    else:
        results = tfidf_search(pruned, terms, total_docs, k, variants=variants)
    if meta.get("has_titles"):
        # titles is DOC-scale (10^10 at the design point) — never broadcast
        # it; the results side is k rows, which AQE broadcasts at runtime
        titles = spark.read.parquet(os.path.join(index_dir, "titles"))
        # delta merge may have canonicalized result ids to string
        # (merged_postings) — align the join key EXPLICITLY rather than
        # letting Spark's implicit string=int coercion (→ double) decide
        r_t = dict(results.dtypes)["doc_id"]
        if dict(titles.dtypes)["doc_id"] != r_t:
            titles = titles.withColumn("doc_id", F.col("doc_id").cast(r_t))
        results = results.join(titles, "doc_id", "left").select(
            "doc_id", "score", "matched_terms", "title"
        ).orderBy(F.desc("score"), F.asc("doc_id"))
    return results
