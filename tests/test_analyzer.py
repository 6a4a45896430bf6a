"""The shared real-text analyzer (functions/text.analyze) and its
conformance enforcement across the retrieval/dedup family.

The bug class under test is the classical analyzer mismatch: an index
built lowercased and queried raw silently misses; punctuation-glued
terms ("word." vs "word") index separately; consecutive whitespace
mints empty tokens that inflate dl so idf/avgdl and the postings
disagree. The fix is ONE analyzer — used by posting build, query side,
shingles, AND document length — recorded in the index meta and refused
on mismatch.

References here are pure-Python BM25 / phrase implementations driven by
functions/text.tokenize — the Spark-expression twin of which is pinned
first (so every later equality is against an independently-computed
answer, not the engine against itself).
"""

from __future__ import annotations

import math

import pytest

from http_feeds_spark.functions import text as tx
from http_feeds_spark.operators import retrieval as rt
from http_feeds_spark.operators import text_index as ti

# text the single-space-soup corpus never exercises: punctuation glued
# to words, newlines, tabs, consecutive/leading/trailing spaces, mixed
# case, Unicode letters, digits, and a pure-punctuation row
NASTY = [
    "The  quick, brown fox -- JUMPS over\nthe lazy dog.",
    "  leading and trailing   ",
    "tab\tseparated\ttokens",
    "Don't stop believing!",
    "naïve café UPPER lower 123 mixed42alnum",
    "...",
    "",
    "one",
    "word. word word.  word",
]


# --- the analyzer itself -------------------------------------------------


def test_spark_analyze_equals_python_tokenize(spark):
    """The Spark expression and the pure-Python twin must tokenize
    identically for every analyzer — the query side (Python) and the
    posting build (Spark) share semantics only if this holds."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(NASTY)], "i long, text string")
    for analyzer in tx.ANALYZERS:
        got = {
            r.i: list(r.toks)
            for r in df.select("i", tx.analyze("text", analyzer).alias("toks")).collect()
        }
        want = {i: tx.tokenize(t, analyzer) for i, t in enumerate(NASTY)}
        assert got == want, analyzer


def test_standard_analyzer_semantics():
    assert tx.tokenize("The  quick, FOX.", "standard") == ["the", "quick", "fox"]
    assert tx.tokenize("Don't stop", "standard") == ["don", "t", "stop"]
    assert tx.tokenize("...", "standard") == []
    assert tx.tokenize("a\nb\tc", "standard") == ["a", "b", "c"]
    # whitespace: no lowercasing, single-space split, empties dropped
    assert tx.tokenize("A  b.", "whitespace") == ["A", "b."]
    assert tx.tokenize("A  b.", "whitespace_lower") == ["a", "b."]


def test_tokenize_query_flattens_and_normalizes():
    assert tx.tokenize_query(["Don't", "Stop"], "standard") == ["don", "t", "stop"]
    assert tx.tokenize_query("The FOX", "standard") == ["the", "fox"]
    assert tx.tokenize_query(["word"], "whitespace") == ["word"]


def test_unknown_analyzer_refused():
    with pytest.raises(ValueError, match="unknown analyzer"):
        tx.tokenize("x", "porter")
    with pytest.raises(ValueError, match="unknown analyzer"):
        tx.analyze("text", "porter")


# --- pure-Python references ----------------------------------------------


def _py_bm25(corpus: dict[int, str], terms: list[str], analyzer: str, k: int = 10):
    """Independent BM25 over analyzed tokens; same rounding/tie-break
    contract as bm25_topk/search: 9-dp per-term rounding, 6-dp total,
    (score desc, doc_id asc)."""
    toks = {d: tx.tokenize(t, analyzer) for d, t in corpus.items()}
    terms = tx.tokenize_query(terms, analyzer)
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    scores: dict[int, float] = {}
    for t in set(terms):
        df = sum(1 for v in toks.values() if t in v)
        if df == 0:
            continue
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, v in toks.items():
            tf = v.count(t)
            if tf:
                s = idf * tf * (rt.K1 + 1.0) / (
                    tf + rt.K1 * (1.0 - rt.B + rt.B * len(v) / avgdl)
                )
                scores[d] = scores.get(d, 0.0) + round(s, 9)
    ranked = sorted(
        ((round(s, 6), d) for d, s in scores.items()), key=lambda x: (-x[0], x[1])
    )
    return [(d, s) for s, d in ranked[:k]]


def _py_phrase(corpus: dict[int, str], phrase: list[str], analyzer: str):
    """doc_id -> count of exact phrase occurrences over analyzed tokens."""
    phrase = tx.tokenize_query(phrase, analyzer)
    out = {}
    for d, t in corpus.items():
        v = tx.tokenize(t, analyzer)
        c = sum(
            1
            for i in range(len(v) - len(phrase) + 1)
            if v[i : i + len(phrase)] == phrase
        )
        if c:
            out[d] = c
    return out


REAL_CORPUS = {
    1: "The quick brown fox JUMPS over the lazy dog.",
    2: "the quick  brown fox jumps,  over the lazy dog",
    3: "Quick! Brown... fox?  (Jumps.)",
    4: "A totally different document -- about Spark, Catalyst, and Tungsten.",
    5: "fox fox FOX fox.",
    6: "  lazy   dog   lazy dog  ",
    7: "Don't stop the data; don't stop the pipeline.",
}


# --- BM25: operator ≡ index ≡ python reference on real text ---------------


def test_bm25_real_text_operator_index_and_reference_agree(spark, tmp_path):
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    root = str(tmp_path / "idx")
    ti.build_text_index(spark, docs, root)  # analyzer="standard" default
    assert ti.index_analyzer(spark, root) == "standard"
    for terms in (["quick", "Fox"], ["lazy", "DOG."], ["don't"], ["spark"]):
        want = _py_bm25(REAL_CORPUS, terms, "standard")
        via_index = [
            (r.doc_id, r.score) for r in ti.search(spark, root, terms, k=10).collect()
        ]
        via_op = [
            (r.doc_id, r.score)
            for r in rt.bm25_topk(docs, terms, k=10).collect()
        ]
        assert via_index == want, terms
        assert via_op == want, terms


def test_bm25_case_and_punctuation_insensitive_under_standard(spark, tmp_path):
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    root = str(tmp_path / "idx")
    ti.build_text_index(spark, docs, root)
    a = [(r.doc_id, r.score) for r in ti.search(spark, root, ["FOX"], k=10).collect()]
    b = [(r.doc_id, r.score) for r in ti.search(spark, root, ["fox."], k=10).collect()]
    c = [(r.doc_id, r.score) for r in ti.search(spark, root, ["fox"], k=10).collect()]
    assert a == b == c and len(c) > 0


def test_pure_punctuation_query_returns_empty(spark, tmp_path):
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    root = str(tmp_path / "idx")
    ti.build_text_index(spark, docs, root)
    assert ti.search(spark, root, ["..."], k=10).count() == 0
    assert rt.bm25_topk(docs, ["..."], k=10).count() == 0


# --- dl counts exactly the posted tokens ----------------------------------


@pytest.mark.slow  # >30 s platform-integration (see pytest.ini)
def test_dl_counts_posted_tokens_not_raw_split_slots(spark, tmp_path):
    """Multi-space text: raw split('  ') slots would inflate dl; the
    analyzer counts exactly the tokens that land in the postings."""
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    for analyzer in tx.ANALYZERS:
        root = str(tmp_path / f"idx_{analyzer}")
        ti.build_text_index(spark, docs, root, analyzer=analyzer)
        post = spark.read.parquet(f"{root}/postings/batch=000000")
        got = {r.doc_id: r.dl for r in post.select("doc_id", "dl").distinct().collect()}
        want = {
            d: len(tx.tokenize(t, analyzer))
            for d, t in REAL_CORPUS.items()
            if tx.tokenize(t, analyzer)
        }
        assert got == want, analyzer
        # and every doc's tf sum == its dl (postings and dl agree)
        sums = {
            r.doc_id: r.s
            for r in post.groupBy("doc_id").sum("tf").withColumnRenamed(
                "sum(tf)", "s"
            ).collect()
        }
        assert sums == want, analyzer


# --- phrase / proximity on real text ---------------------------------------


def test_phrase_search_real_text_matches_reference(spark, tmp_path):
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    root = str(tmp_path / "idx")
    ti.build_text_index(spark, docs, root)
    for phrase in (
        ["quick", "brown", "fox"],
        ["Quick!", "Brown,", "FOX"],     # punctuation/case must not matter
        ["lazy", "dog"],
        ["don't", "stop"],               # analyzes to don t stop
        ["the lazy dog"],                # one term carrying a whole phrase
    ):
        want = _py_phrase(REAL_CORPUS, phrase, "standard")
        got = {
            r.doc_id: r.n_matches
            for r in ti.phrase_search(spark, root, phrase, k=100).collect()
        }
        assert got == want, phrase


def test_proximity_real_text_slop0_equals_phrase(spark, tmp_path):
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    root = str(tmp_path / "idx")
    ti.build_text_index(spark, docs, root)
    phrase = ["Quick", "brown", "fox!"]
    ph = {r.doc_id: r.n_matches for r in ti.phrase_search(spark, root, phrase, k=100).collect()}
    px = {
        r.doc_id: r.n_matches
        for r in ti.proximity_search(spark, root, phrase, slop=0, k=100).collect()
    }
    assert ph == px and ph  # non-empty: docs 1-3 all contain the phrase


# --- analyzer conformance: recorded, inherited, refused --------------------


def test_mismatched_analyzer_refused_everywhere(spark, tmp_path):
    docs = spark.createDataFrame(list(REAL_CORPUS.items()), "doc_id long, text string")
    root = str(tmp_path / "idx")
    ti.build_text_index(spark, docs, root, analyzer="standard")
    more = spark.createDataFrame([(99, "new doc text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="analyzer"):
        ti.upsert_documents(spark, more, root, analyzer="whitespace")
    with pytest.raises(ValueError, match="analyzer"):
        ti.search(spark, root, ["fox"], analyzer="whitespace")
    with pytest.raises(ValueError, match="analyzer"):
        ti.phrase_search(spark, root, ["quick", "brown"], analyzer="whitespace")
    with pytest.raises(ValueError, match="analyzer"):
        ti.proximity_search(spark, root, ["quick", "brown"], analyzer="whitespace")
    with pytest.raises(ValueError, match="analyzer"):
        ti.proximity_search_any(spark, root, ["quick", "brown"], analyzer="whitespace")
    with pytest.raises(ValueError, match="analyzer"):
        ti.update_documents(spark, more, root, analyzer="whitespace")
    # the matching analyzer (or None) passes
    assert ti.upsert_documents(spark, more, root, analyzer="standard") == 1
    assert ti.search(spark, root, ["fox"], analyzer="standard").count() > 0
    with pytest.raises(ValueError, match="unknown analyzer"):
        ti.build_text_index(spark, docs, str(tmp_path / "idx2"), analyzer="porter")


def test_upsert_inherits_index_analyzer(spark, tmp_path):
    """An upsert with no analyzer arg MUST tokenize like the store: the
    new batch's postings for mixed-case text land lowercased under
    "standard" and raw under "whitespace"."""
    base = spark.createDataFrame([(1, "seed doc")], "doc_id long, text string")
    add = spark.createDataFrame([(2, "MIXED Case.")], "doc_id long, text string")
    for analyzer, want_terms in (
        ("standard", {"mixed", "case"}),
        ("whitespace", {"MIXED", "Case."}),
    ):
        root = str(tmp_path / f"inh_{analyzer}")
        ti.build_text_index(spark, base, root, analyzer=analyzer)
        ti.upsert_documents(spark, add, root)
        post, _ = ti._visible_postings(spark, f"{root}/postings")
        got = {
            r.term for r in post.where(post.doc_id == 2).select("term").collect()
        }
        assert got == want_terms, analyzer


def test_legacy_meta_reads_as_whitespace_and_search_works(spark, tmp_path):
    """A pre-analyzer store (meta without the analyzer column) must keep
    answering under its build-time tokenization — raw whitespace — with
    no rebuild required."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta delta")], "doc_id long, text string"
    )
    root = str(tmp_path / "legacy")
    ti.build_text_index(spark, docs, root, analyzer="whitespace")
    # strip the analyzer column to simulate the r8-era meta layout
    meta_path = f"{root}/meta"
    legacy = spark.read.parquet(meta_path).drop("analyzer").collect()
    spark.createDataFrame(legacy).coalesce(1).write.mode("overwrite").parquet(meta_path)
    assert ti.index_analyzer(spark, root) == "whitespace"
    got = [(r.doc_id, r.score) for r in ti.search(spark, root, ["beta"], k=10).collect()]
    assert [d for d, _ in got] == [2, 1]
    # upsert inherits the legacy analyzer and re-stamps it in meta
    ti.upsert_documents(
        spark, spark.createDataFrame([(3, "beta")], "doc_id long, text string"), root
    )
    assert ti.index_analyzer(spark, root) == "whitespace"
    assert (
        spark.read.parquet(meta_path).select(F.col("analyzer")).collect()[0].analyzer
        == "whitespace"
    )


def test_analyzer_survives_full_purge(spark, tmp_path):
    """Erase every doc, purge, then upsert: the post-purge empty meta
    must still carry the store's analyzer (a fresh upsert must tokenize
    like the original build)."""
    from http_feeds_spark.operators import erasure

    docs = spark.createDataFrame([(1, "Alpha Beta")], "doc_id long, text string")
    root = str(tmp_path / "purge")
    ti.build_text_index(spark, docs, root, analyzer="whitespace")
    erasure.erase_ids(
        spark, root, spark.createDataFrame([(1,)], "id long")
    )
    ti.purge_erased(spark, root)
    assert ti.index_analyzer(spark, root) == "whitespace"
    ti.upsert_documents(
        spark, spark.createDataFrame([(2, "Gamma Delta")], "doc_id long, text string"), root
    )
    post, _ = ti._visible_postings(spark, f"{root}/postings")
    assert {r.term for r in post.select("term").collect()} == {"Gamma", "Delta"}


def test_fsck_reports_analyzer(spark, tmp_path):
    from http_feeds_spark.operators import fsck

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    root = str(tmp_path / "fsck")
    ti.build_text_index(spark, docs, root, analyzer="standard")
    rep = fsck.fsck_text_index(spark, root)
    assert rep["analyzer"] == "standard"
    assert rep["doc_overlap_violations"] == 0 and rep["meta_fresh"]


def test_ensure_rebuilds_pre_analyzer_store_and_on_explicit_change(spark, tmp_path):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    root = str(tmp_path / "ens")
    assert ti.ensure_text_index(spark, docs, root) is True
    assert ti.ensure_text_index(spark, docs, root) is False  # present, no-op
    # simulate a pre-analyzer meta: ensure must rebuild in place
    meta_path = f"{root}/meta"
    legacy = spark.read.parquet(meta_path).drop("analyzer").collect()
    spark.createDataFrame(legacy).coalesce(1).write.mode("overwrite").parquet(meta_path)
    assert ti.ensure_text_index(spark, docs, root) is True
    assert ti.index_analyzer(spark, root) == "standard"
    # explicit different analyzer: rebuild; same analyzer: no-op
    assert ti.ensure_text_index(spark, docs, root, analyzer="whitespace") is True
    assert ti.index_analyzer(spark, root) == "whitespace"
    assert ti.ensure_text_index(spark, docs, root, analyzer="whitespace") is False


# --- dedup store analyzer conformance --------------------------------------


def test_dedup_store_records_and_enforces_analyzer(spark, tmp_path):
    from http_feeds_spark.streaming import dedup as sd

    root = str(tmp_path / "dd")
    assert sd.store_analyzer(spark, root) is None
    batch = spark.createDataFrame(
        [(i, "The Quick brown fox jumps over dogs") for i in range(4)],
        "doc_id long, text string",
    )
    sd.fold_batch(spark, batch, root)
    assert sd.store_analyzer(spark, root) == "standard"
    more = spark.createDataFrame(
        [(10, "another doc with several tokens here")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="analyzer"):
        sd.fold_batch(spark, more, root, analyzer="whitespace")
    sd.fold_batch(spark, more, root)  # None inherits
    sd.fold_batch(spark, more, root, analyzer="standard")  # explicit match ok


def test_dedup_legacy_store_reads_as_whitespace_lower(spark, tmp_path):
    """A store with shingles but no analyzer meta is pre-r9: it shingled
    under lower + single-space split, and new folds must keep doing so —
    a mixed-case near-duplicate of a stored doc must still pair with it."""
    from http_feeds_spark.stores import hadoop_fs
    from http_feeds_spark.streaming import dedup as sd

    root = str(tmp_path / "ddl")
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    sd.fold_batch(spark, base, root, analyzer="whitespace_lower")
    # simulate the legacy layout: drop the analyzer meta
    fs, p = hadoop_fs(spark, f"{root}/{sd.ANALYZER_DIR}")
    fs.delete(p, True)
    assert sd.store_analyzer(spark, root) == "whitespace_lower"
    dup = spark.createDataFrame(
        [(2, "ALPHA BETA GAMMA DELTA EPSILON zeta")], "doc_id long, text string"
    )
    asg = sd.fold_batch(spark, dup, root)
    comps = {r.node: r.component for r in asg.collect()}
    assert comps.get(1) == comps.get(2)  # lowercased shingles matched


def test_near_dup_pipeline_catches_case_variants_under_standard(spark):
    """The batch near-dup pipeline on REAL text: a case/punctuation
    variant of a document must verify as a near-duplicate now that
    shingles run under the standard analyzer."""
    from http_feeds_spark.queries.llm import _near_dup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "The QUICK brown fox, jumps over the lazy dog -- again and again!"),
            (3, "a completely different document about query engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.a, r.b) for r in _near_dup_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


# --- the standard_porter tier (r10) --------------------------------------


def test_porter_stem_paper_vectors():
    """porter_stem pinned against the algorithm paper's own step
    examples (Porter 1980) — including the multi-step composites."""
    vectors = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "cats": "cat",
        "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "conflated": "conflat", "hopping": "hop",
        "filing": "file", "happy": "happi", "sky": "sky",
        "relational": "relat", "conditional": "condit",
        "vietnamization": "vietnam", "operator": "oper",
        "decisiveness": "decis", "sensibiliti": "sensibl",
        "triplicate": "triplic", "formative": "form", "electriciti": "electr",
        "electrical": "electr", "hopeful": "hope", "goodness": "good",
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "adjustable": "adjust", "replacement": "replac", "adoption": "adopt",
        "communism": "commun", "activate": "activ", "effective": "effect",
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "controll": "control", "roll": "roll",
        "running": "run", "runs": "run", "generalizations": "gener",
    }
    assert {w: tx.porter_stem(w) for w in vectors} == vectors


def test_standard_porter_semantics():
    """Tokenize like standard, drop the fixed stopword set, stem."""
    assert tx.tokenize("The dogs were RUNNING quickly!", "standard_porter") == [
        "dog", "were", "run", "quickli",
    ]
    assert tx.tokenize("the and of a", "standard_porter") == []  # all stopwords
    assert tx.tokenize("...", "standard_porter") == []
    assert tx.tokenize_query(["Running", "DOGS"], "standard_porter") == ["run", "dog"]


def test_porter_improves_recall_on_inflected_corpus(spark, tmp_path):
    """The tier's reason to exist: a corpus written in inflected forms
    answers base-form queries under standard_porter where the standard
    analyzer misses entirely — and the conformance machinery makes the
    new tier exactly as safe as the old ones."""
    docs = spark.createDataFrame(
        [
            (1, "The dogs were running through the fields."),
            (2, "A dog runs; it ran and keeps running!"),
            (3, "Relational query engines optimize aggregations."),
        ],
        "doc_id long, text string",
    )
    std_root = str(tmp_path / "std")
    por_root = str(tmp_path / "por")
    ti.build_text_index(spark, docs, std_root, analyzer="standard")
    ti.build_text_index(spark, docs, por_root, analyzer="standard_porter")

    # base-form query: standard finds only the literal token "runs"→no
    # ("run" never appears verbatim); porter matches every inflection
    std_hits = {r.doc_id for r in ti.search(spark, std_root, ["run"], k=10).collect()}
    por_hits = {r.doc_id for r in ti.search(spark, por_root, ["run"], k=10).collect()}
    assert std_hits == set()
    assert por_hits == {1, 2}
    # inflected query forms all hit the same docs under porter
    assert {r.doc_id for r in ti.search(spark, por_root, ["running"], k=10).collect()} == {1, 2}
    # phrase under porter: the inflected query ["dogs", "running"]
    # stems to [dog, run], adjacent only in doc 2 ("A dog runs ...")
    assert {
        r.doc_id
        for r in ti.phrase_search(spark, por_root, ["dogs", "running"], k=10).collect()
    } == {2}

    # refusal matrix row: the porter index refuses other analyzers
    with pytest.raises(ValueError, match="analyzer"):
        ti.search(spark, por_root, ["run"], analyzer="standard")
    with pytest.raises(ValueError, match="analyzer"):
        ti.upsert_documents(spark, docs, por_root, analyzer="whitespace")
    # meta records the tier; upsert with no arg inherits it
    more = spark.createDataFrame([(9, "another runner arriving")], "doc_id long, text string")
    assert ti.upsert_documents(spark, more, por_root) == 1
    assert {r.doc_id for r in ti.search(spark, por_root, ["run"], k=10).collect()} == {1, 2}
    assert {r.doc_id for r in ti.search(spark, por_root, ["arrive"], k=10).collect()} == {9}


def test_porter_not_sql_expressible_refused(spark, sf_dir):
    """The SQL search functions cannot stem query terms (no UDF in the
    function body) — registering them under standard_porter must refuse
    loudly with the remedy instead of silently mismatching the views."""
    from http_feeds_spark import sql as esql

    with pytest.raises(ValueError, match="not SQL-expressible"):
        esql.register_search_functions(spark, analyzer="standard_porter")
