"""Round-7 governance/planning queries match their DuckDB oracles, plus
semantic invariants: span-merge islands math, classifier determinism on
empty docs, coordinated key sampling, and the k-anonymity histogram
conservation law."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafoundation_multi_source_retail_data_integration_hub_spark.operators import spans as SP
from datafoundation_multi_source_retail_data_integration_hub_spark.queries import pipelineops

from .conftest import SF_SMOKE
from .oracle import compare


@pytest.mark.parametrize("name", sorted(pipelineops.QUERIES))
def test_pipelineops_query_matches_oracle(spark, name):
    compare(
        spark,
        SF_SMOKE,
        pipelineops.QUERIES[name],
        pipelineops.ORACLES[name],
        name,
    )


def test_span_merge_islands(spark):
    """Gaps-and-islands: windows at starts {1,2,3} (overlapping), {10}
    (disjoint), {13} (adjacent to 10 for W=3: 13 <= 10+3) merge into two
    spans; a second doc's single window is independent."""
    w = 3
    rows = [
        ("a", 100, 1), ("a", 100, 2), ("a", 100, 3),
        ("a", 100, 10), ("a", 100, 13),
        ("b", 50, 7),
    ]
    dpos = spark.createDataFrame(rows, "doc_id string, n_toks long, i long")
    out = {
        (r["doc_id"], r["isl"]): r
        for r in SP.merge_spans(dpos, "doc_id", w).collect()
    }
    assert len([k for k in out if k[0] == "a"]) == 2
    assert len([k for k in out if k[0] == "b"]) == 1
    spans_a = sorted(
        (r["span_toks"], r["n_wins"]) for k, r in out.items() if k[0] == "a"
    )
    # {1,2,3}: max-min+W = 3-1+3 = 5 tokens from 3 windows;
    # {10,13}: 13-10+3 = 6 tokens from 2 windows
    assert spans_a == [(5, 3), (6, 2)]
    ((span_b, wins_b),) = [
        (r["span_toks"], r["n_wins"]) for k, r in out.items() if k[0] == "b"
    ]
    assert (span_b, wins_b) == (w, 1)


def test_substring_report_detects_planted_duplicate(spark):
    """Two docs sharing an 8-token run (and nothing else long enough)
    both appear with exactly that run's tokens marked duplicated."""
    run = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"unique one two three {run} tail1 tailx"),
        (2, f"{run} completely different suffix here now"),
        (3, "no duplication in this document at all whatsoever truly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in SP.substring_dup_report(docs, "text", "doc_id", 8).collect()
    }
    assert set(out) == {1, 2}
    for r in out.values():
        assert r["n_dup_spans"] == 1
        assert r["n_dup_windows"] == 1  # exactly one 8-token window matches
        assert r["dup_tokens"] == 8


def test_classifier_handles_empty_doc(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "only"), (2, "two words")], "doc_id long, text string"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in pipelineops.doc_classifier_quality_score(
            spark, str(tmp_path)
        ).collect()
    }
    # one token -> zero bigrams -> zero logit, score 0.0, keep False
    assert out[1]["n_grams"] == 0
    assert out[1]["logit_milli"] == 0
    assert out[1]["quality_logit"] == 0.0
    assert out[1]["keep"] is False
    assert out[2]["n_grams"] == 1


def test_join_cardinality_sampling_is_key_coordinated(spark):
    """The estimate uses the SAME sampled keys on both sides: every
    sampled key contributes its full oc*lc product, so on a corpus where
    every key is sampled the estimate is exactly SAMPLE_MOD x exact."""
    row = pipelineops.orders_join_cardinality(spark, SF_SMOKE).collect()[0]
    assert row["exact_join_rows"] > 0
    assert row["estimated_join_rows"] % pipelineops.SAMPLE_MOD == 0
    assert row["rel_err"] >= 0.0


def test_k_anonymity_conserves_rows(spark):
    rows = pipelineops.customer_k_anonymity(spark, SF_SMOKE).collect()
    total = sum(r["n_rows"] for r in rows)
    n_customers = (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet").count()
    )
    assert total == n_customers
    for r in rows:
        assert r["n_rows"] == r["class_size"] * r["n_classes"]
        assert r["at_risk"] == (r["class_size"] < pipelineops.K_ANON)


def test_short_docs_produce_empty_shingle_sets(spark):
    """Rows shorter than the shingle width yield EMPTY gram arrays —
    Spark's sequence(1, 0) counts DOWN unless guarded (functions/text.py
    _index_range), which used to abort the stage with a slice(0) error."""
    from datafoundation_multi_source_retail_data_integration_hub_spark.functions import text as TX

    df = spark.createDataFrame(
        [("",), ("one",), ("one two",), ("one two three four",)],
        "text string",
    )
    toks = df.select(TX.ws_tokens(TX.normalized_text(F.col("text"))).alias("t"))
    out = toks.select(
        F.size(TX.shingles_from_tokens(F.col("t"), 3)).alias("n_sh"),
        F.size(TX.positional_hashes_from_tokens(F.col("t"), 3)).alias("n_ph"),
        F.size(TX.winnowing_from_hashes(
            TX.positional_hashes_from_tokens(F.col("t"), 3), 4
        )).alias("n_wf"),
    ).collect()
    assert [r["n_sh"] for r in out] == [0, 0, 0, 2]
    assert [r["n_ph"] for r in out] == [0, 0, 0, 2]
    # 2 positional hashes < window 4 -> no winnowing fingerprints
    assert [r["n_wf"] for r in out] == [0, 0, 0, 0]


def test_trim_keeps_first_occurrence_only(spark):
    """Keep-first: doc 1 (lower id) keeps the shared 8-token run, doc 2
    loses exactly those 8 tokens, the unrelated doc is untouched."""
    run = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"unique one two three {run} tail1 tailx"),
        (2, f"{run} completely different suffix here now"),
        (3, "no duplication in this document at all whatsoever truly"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in SP.trim_duplicated_spans(docs, "text", "doc_id", 8).collect()
    }
    assert len(out) == 3
    assert out[1]["kept_tokens"] == out[1]["n_toks"]  # first copy kept
    assert run in out[1]["trimmed_text"]
    assert out[2]["kept_tokens"] == out[2]["n_toks"] - 8
    assert run not in out[2]["trimmed_text"]
    assert out[2]["trimmed_text"] == "completely different suffix here now"
    assert out[3]["kept_tokens"] == out[3]["n_toks"]


def test_language_balance_upsamples_tail_languages(spark):
    """sqrt-temperature quotas: the sample sums to LANG_QUOTA and every
    minority language gets a LARGER share of the sample than its share
    of the corpus (the point of tau=0.5)."""
    rows = pipelineops.doc_language_balanced_sample(spark, SF_SMOKE).collect()
    assert len(rows) == pipelineops.LANG_QUOTA
    import collections
    taken = collections.Counter(r["lang"] for r in rows)
    corpus = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(corpus.values())
    majority = max(corpus, key=corpus.get)
    for lang, n in corpus.items():
        if lang == majority:
            continue
        assert taken[lang] / pipelineops.LANG_QUOTA >= n / n_total, lang
    # ranks within quota and no duplicates
    assert all(r["sample_rank"] <= r["lang_quota"] for r in rows)
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_partition_planner_ceiling_math(spark):
    rows = {
        r["table_name"]: r
        for r in pipelineops.scan_partition_planner(spark, SF_SMOKE).collect()
    }
    t = pipelineops.SCAN_TARGET_BYTES
    for r in rows.values():
        assert r["est_bytes"] > 0
        assert r["recommended_partitions"] == max(
            1, -(-r["est_bytes"] // t)
        )


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=20, deadline=None)
@given(
    starts=st.sets(st.integers(min_value=1, max_value=60), min_size=1, max_size=25),
    w=st.integers(min_value=2, max_value=6),
)
def test_span_merge_covers_exactly_the_window_union(spark, starts, w):
    """Property: merged spans tile the union of the window intervals —
    sum(span_toks) == |union of [i, i+w-1]| and sum(n_wins) == #windows;
    spans never overlap (python reference interval-merge)."""
    rows = [("d", 999, i) for i in sorted(starts)]
    dpos = spark.createDataFrame(rows, "doc_id string, n_toks long, i long")
    out = SP.merge_spans(dpos, "doc_id", w).collect()
    covered = set()
    for i in sorted(starts):
        covered.update(range(i, i + w))
    assert sum(r["span_toks"] for r in out) == len(covered)
    assert sum(r["n_wins"] for r in out) == len(starts)
    # span bounds are disjoint and each equals its token count
    ivs = sorted((r["span_start"], r["span_end"]) for r in out)
    for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
        assert e1 < s2 - 1  # a gap of >= 1 token separates maximal spans
    for r in out:
        assert r["span_end"] - r["span_start"] + 1 == r["span_toks"]


def test_ingest_substring_dedup_flag_precedence(spark):
    """Store hits win over within-batch duplication; within-batch dups
    are keep-first; a batch doc with fresh content is not reported."""
    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    batchrun = "one two three four five six seven eight"
    store = spark.createDataFrame(
        [(0, f"established corpus text holds {run} exactly once here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, f"incoming doc repeating {run} from the store"),
            (3, f"{batchrun} appears first in the batch"),
            (5, f"later copy of {batchrun} inside the batch"),
            (7, "entirely novel content with nothing repeated at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in SP.incremental_substring_report(
            batch, store, "text", "doc_id", 8
        ).collect()
    }
    assert set(out) == {1, 5}  # 3 keeps first batch copy; 7 is clean
    assert out[1]["n_store_windows"] == 1
    assert out[1]["n_batch_windows"] == 0
    assert out[1]["dup_tokens"] == 8
    assert out[5]["n_store_windows"] == 0
    assert out[5]["n_batch_windows"] == 1
    assert out[5]["dup_tokens"] == 8

    # the one-scan fused form must agree row-for-row with the two-frame
    # form on the same split (store = even ids, batch = odd ids)
    fused = {
        r["doc_id"]: r
        for r in SP.fused_incremental_substring_report(
            store.unionByName(batch),
            F.col("doc_id") % 2 == 1,
            "text",
            "doc_id",
            8,
        ).collect()
    }
    assert set(fused) == set(out)
    for d, r in out.items():
        assert tuple(fused[d]) == tuple(r)


def test_report_and_trim_are_consistent_on_corpus(spark):
    """Cross-operator invariant on the real corpus: the report flags ALL
    occurrences of duplicated windows while the trim drops only NON-FIRST
    occurrences — so for every document, tokens kept by the trim >=
    n_toks - report.dup_tokens, and any doc the trim shortened must
    appear in the report."""
    report = {
        r["doc_id"]: r
        for r in pipelineops.doc_substring_dup_spans(spark, SF_SMOKE).collect()
    }
    trim = {
        r["doc_id"]: r
        for r in pipelineops.doc_substring_dedup_trim(spark, SF_SMOKE).collect()
    }
    assert len(trim) == 500  # trim reports every doc
    shortened = {d for d, r in trim.items() if r["kept_tokens"] < r["n_toks"]}
    assert shortened  # the corpus has near-dup docs, something must trim
    assert shortened <= set(report)
    for d in report:
        assert trim[d]["kept_tokens"] >= (
            trim[d]["n_toks"] - report[d]["dup_tokens"]
        )
    # at least one duplicated doc is the FIRST copy: reported but untrimmed
    assert any(d in report and d not in shortened for d in trim)


_PHRASES = (
    "alpha beta gamma",
    "delta epsilon zeta",
    "eta theta iota kappa",
    "lambda mu",
    "nu xi omicron pi rho",
)


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(_PHRASES), min_size=0, max_size=5
        ).map(lambda ps: " ".join(ps)),
        min_size=2,
        max_size=10,
    )
)
def test_substring_family_cross_engine_on_random_corpora(spark, docs):
    """Property: the whole substring family hash-matches DuckDB on
    RANDOM corpora built from shared phrases (so multi-phrase runs
    collide across docs), including empty and shorter-than-W documents —
    the fixed-corpus oracles cannot exercise those shapes."""
    import shutil
    import tempfile

    import pandas as pd

    base = tempfile.mkdtemp(prefix="prop_corpus_")
    try:
        # single parquet FILE (pandas/pyarrow), matching the fixed
        # corpus layout — DuckDB cannot read a bare Spark part-file dir
        pd.DataFrame(
            {"doc_id": range(len(docs)), "text": docs}
        ).to_parquet(f"{base}/documents.parquet")
        for name in (
            "doc_substring_dup_spans",
            "doc_substring_dedup_trim",
            "doc_substring_dedup_ingest",
        ):
            compare(
                spark, base, pipelineops.QUERIES[name],
                pipelineops.ORACLES[name], name,
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_nfc_parity_unicodedata_vs_utf8proc():
    """The doc_unicode_clean contract rests on Python unicodedata NFC ==
    DuckDB (utf8proc) NFC. Pin it over an adversarial alphabet: composed
    vs decomposed Latin/Greek, decomposed Hangul jamo, combining-mark
    REORDERING (s + dot-below + dot-above in both orders), compatibility
    characters NFC must leave alone (fi ligature), and ANGSTROM SIGN
    (an NFC singleton that rewrites to U+00C5). 3000 seeded random
    strings, zero Spark involvement — pure library agreement."""
    import random
    import unicodedata

    import duckdb

    con = duckdb.connect()
    alphabet = [
        "a", "z", " ",
        "é", "é",          # é composed / decomposed
        "ñ", "ñ",          # ñ
        "ü", "ü",          # ü
        "ά", "ά",     # Greek ά
        "가", "가",     # Hangul 가 / jamo
        "ﬁ",                      # fi ligature (NFC-invariant)
        "Å", "Å",           # ANGSTROM SIGN -> Å singleton
        "ṩ", "ṩ",  # mark reordering
    ]
    rng = random.Random(7)
    for _ in range(3000):
        s = "".join(
            rng.choice(alphabet) for _ in range(rng.randint(0, 8))
        )
        py = unicodedata.normalize("NFC", s)
        db = con.execute("SELECT nfc_normalize(?)", [s]).fetchone()[0]
        assert py == db, repr(s)


def test_unicode_clean_matches_oracle_on_unicode_corpus(spark):
    """Full-pipeline cross-engine compare of doc_unicode_clean on a
    seeded corpus of REAL unicode text (combining marks, Hangul jamo,
    NFC singletons, control chars, multi-space runs) — also pins that
    Spark length() and DuckDB length() count the same codepoints on
    non-ASCII output."""
    import random
    import shutil
    import tempfile

    import pandas as pd

    pieces = [
        "café", "élève", "가가",
        "AÅngström", "ṩtack", "plain ascii",
        "tab\tand\x01control", "  multi   space  ", "άά",
    ]
    rng = random.Random(11)
    docs = [
        " ".join(rng.choice(pieces) for _ in range(rng.randint(0, 6)))
        for _ in range(40)
    ]
    base = tempfile.mkdtemp(prefix="uni_corpus_")
    try:
        pd.DataFrame({"doc_id": range(len(docs)), "text": docs}).to_parquet(
            f"{base}/documents.parquet"
        )
        compare(
            spark, base,
            pipelineops.QUERIES["doc_unicode_clean"],
            pipelineops.ORACLES["doc_unicode_clean"],
            "doc_unicode_clean[unicode-corpus]",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _nfc_sweep() -> list[str]:
    """Every code point with a decomposition or a nonzero combining
    class, taken as itself, as its NFD and between ``a`` and U+0301,
    plus all 11,172 Hangul syllables in NFD (algorithmic, so absent from
    the decomposition table): 31,281 strings under Unicode 14.0; the
    count follows the interpreter's ``unicodedata`` version."""
    import unicodedata

    out = []
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:  # lone surrogates are not valid text
            continue
        c = chr(cp)
        if unicodedata.decomposition(c) or unicodedata.combining(c):
            out += [c, unicodedata.normalize("NFD", c), "a" + c + "\u0301"]
    out += [
        unicodedata.normalize("NFD", chr(cp)) for cp in range(0xAC00, 0xD7A4)
    ]
    return out


def test_nfc_parity_icu_vs_unicodedata(spark):
    """doc_unicode_clean's NFC runs ICU4J on the executor JVM; pin it to
    Python unicodedata NFC over the full decomposition/combining-class
    sweep, through a Spark frame and the query's own expression."""
    import unicodedata

    from datafoundation_multi_source_retail_data_integration_hub_spark.functions.local import (
        local_frame,
    )

    sweep = _nfc_sweep()
    assert len(sweep) > 30000
    got = dict(
        local_frame(spark, list(enumerate(sweep)), "i int, s string")
        .select("i", pipelineops.nfc(F.col("s")).alias("n"))
        .collect()
    )
    bad = [
        s for i, s in enumerate(sweep)
        if got[i] != unicodedata.normalize("NFC", s)
    ]
    assert not bad, [ascii(s) for s in bad[:20]]


def test_unicode_clean_null_text_matches_oracle(spark, tmp_path):
    """A NULL document text cleans to NULL (clean_text, n_clean_chars,
    nfc_delta) on both engines. ICU's composer throws on a NULL
    argument, so this fails if the null guard around it is dropped."""
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["cafe\u0301", None, "a  b"]}
    ).to_parquet(tmp_path / "documents.parquet")
    compare(
        spark, str(tmp_path),
        pipelineops.QUERIES["doc_unicode_clean"],
        pipelineops.ORACLES["doc_unicode_clean"],
        "doc_unicode_clean[null-text]",
    )
    out = {
        r["doc_id"]: r
        for r in pipelineops.doc_unicode_clean(spark, str(tmp_path)).collect()
    }
    assert out[1]["clean_text"] is None
    assert out[1]["n_clean_chars"] is None
    assert out[1]["nfc_delta"] is None
    assert out[0]["clean_text"] == "caf\u00e9"  # composed
    assert out[0]["nfc_delta"] == 3  # 1 (own text) + 2 (probe)


def test_unicode_clean_runs_no_python_stage(spark):
    """NFC runs on the JVM: the executed plan has no Python evaluation
    node, so the query never starts a Python worker."""
    df = pipelineops.doc_unicode_clean(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "reflect" in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
