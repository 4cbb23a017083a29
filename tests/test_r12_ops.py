"""Law/invariance tests for the r12 capability keys (text_line_dedup,
text_pii_scrub) — oracle parity is pinned separately by the sweep and
test_oracle_parity's sampler; these check the algebraic laws the
oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_text_line_dedup_laws(spark, sf_oracle):
    """Per-doc accounting closes (n_lines = n_surviving + n_removed,
    all non-negative, n_surviving >= 1 since a doc's first line is
    either unique or canonical-eligible... not guaranteed — canonical
    may live in another doc — so the real invariant is weaker:
    surviving <= lines); one row per document; n_lines matches the
    token count's ceil-block arithmetic."""
    from distributed_graph_database_spark.pipeline.text import (
        LINE_W,
        text_line_dedup,
    )

    res = text_line_dedup(spark, sf_oracle)
    n_docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").count()
    rows = res.collect()
    assert len(rows) == n_docs
    for r in rows:
        assert r.n_lines == r.n_surviving + r.n_removed, r
        assert 0 <= r.n_surviving <= r.n_lines, r
    # n_lines = ceil(token_count / LINE_W) per doc, recomputed
    # independently from the raw table
    expect = (
        spark.read.parquet(f"{sf_oracle}/documents.parquet")
        .select(
            "doc_id",
            F.floor(
                (F.size(F.split(F.lower(F.trim("text")), r"\s+")) + (LINE_W - 1))
                / LINE_W
            ).alias("want"),
        )
    )
    bad = (
        res.join(expect, "doc_id")
        .filter(F.col("n_lines") != F.col("want"))
        .count()
    )
    assert bad == 0


def test_text_line_dedup_exactly_one_survivor_per_dup_line(spark, tmp_path):
    """A hand-built corpus where one 3-token line repeats across two
    docs and within one of them: C4 semantics keep EXACTLY ONE
    occurrence corpus-wide, and it is the canonical (lowest doc,
    lowest position) one."""
    from distributed_graph_database_spark.pipeline.text import text_line_dedup

    dup = "alpha beta gamma"
    docs = [
        (1, f"{dup} delta epsilon zeta {dup}"),  # lines: dup, "delta epsilon zeta", dup
        (2, f"{dup} one two three"),
        (3, "one two three four five six"),
    ]
    spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_lines, r.n_surviving, r.n_removed)
        for r in text_line_dedup(spark, str(tmp_path)).collect()
    }
    # doc 1: 3 lines, the dup line at idx 0 is canonical (survives),
    # idx 2 copy removed, middle line unique -> 2 survive
    assert got[1] == (3, 2, 1), got
    # doc 2: its dup copy is non-canonical -> removed; "one two three"
    # also appears in doc 3 but doc 2's occurrence is canonical
    assert got[2] == (2, 1, 1), got
    # doc 3: "one two three" is a non-canonical dup; "four five six"
    # unique
    assert got[3] == (2, 1, 1), got


def test_text_pii_scrub_laws(spark, sf_oracle):
    """Injection arithmetic drives the counts: docs with
    doc_id % 3 == 0 get exactly one email and one phone, doc_id % 6
    == 0 additionally one SSN, everything else zero (the corpus
    itself is PII-free — zero digits and '@'s, checked here rather
    than assumed); the masked text never contains a residual match of
    any class pattern."""
    from distributed_graph_database_spark.pipeline.text import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        PII_SSN_RE,
        _pii_aug_col,
        text_pii_scrub,
    )

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    assert docs.filter(F.col("text").rlike("[0-9@]")).count() == 0
    rows = text_pii_scrub(spark, sf_oracle).collect()
    assert len(rows) == docs.count()
    for r in rows:
        want = 1 if r.doc_id % 3 == 0 else 0
        assert (r.n_email, r.n_phone) == (want, want), r
        assert r.n_ssn == (1 if r.doc_id % 6 == 0 else 0), r
    # residual-match check on the actual masked strings: re-apply the
    # scrub expression and assert no class pattern survives it
    aug = _pii_aug_col()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ),
        PII_SSN_RE,
        "[SSN]",
    )
    residue = (
        docs.select(scrubbed.alias("s"))
        .filter(
            F.col("s").rlike(PII_EMAIL_RE)
            | F.col("s").rlike(PII_PHONE_RE)
            | F.col("s").rlike(PII_SSN_RE)
        )
        .count()
    )
    assert residue == 0


def test_text_pii_scrub_mask_placement(spark, tmp_path):
    """End-to-end on a tiny corpus: the masked text is byte-exact —
    placeholders land where the injected spans were, surrounding text
    untouched (doc_id = 6 hits all three classes: 6%3 == 0 and
    6%6 == 0)."""
    from distributed_graph_database_spark.pipeline.text import (
        _pii_aug_col,
    )

    spark.createDataFrame(
        [(6, "hello world"), (7, "plain text")],
        "doc_id bigint, text string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    from distributed_graph_database_spark.pipeline.text import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        PII_SSN_RE,
    )

    masked = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(_pii_aug_col(), PII_EMAIL_RE, "[EMAIL]"),
                    PII_PHONE_RE,
                    "[PHONE]",
                ),
                PII_SSN_RE,
                "[SSN]",
            ).alias("s"),
        ).collect()
    }
    # doc 6: email u6@ex6.org, phone +1-106-555-1006, ssn 106-16-1006
    assert masked[6] == (
        "hello world contact [EMAIL] or call [PHONE] id [SSN]"
    ), masked[6]
    assert masked[7] == "plain text", masked[7]


def test_dedup_embed_tree_laws(spark, sf_oracle):
    """The declared dedup pair build (tree quantizer — the PRIMARY
    since r13): every emitted pair is a genuine near-dup (cosine >=
    threshold), ordered vec_a < vec_b, no duplicates; and the
    dedup_embed_tree alias returns the identical artifact."""
    from distributed_graph_database_spark.pipeline.similarity import (
        EMBED_COSINE_T,
        dedup_embed,
        dedup_embed_tree,
    )

    tree = dedup_embed(spark, sf_oracle)
    rows = tree.collect()
    assert rows
    seen = set()
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.cosine >= EMBED_COSINE_T - 1e-9, r
        assert (r.vec_a, r.vec_b) not in seen
        seen.add((r.vec_a, r.vec_b))
    alias = {
        (r.vec_a, r.vec_b) for r in dedup_embed_tree(spark, sf_oracle).collect()
    }
    assert alias == seen, "dedup_embed_tree must alias the primary artifact"


def test_bench_setup_rejects_unknown_line_items(spark, sf_oracle):
    """ADVICE r11 #1: a typo'd --setup-items entry must raise, not be
    silently skipped (silent skip = the probe times the key WITH its
    ingest build folded in)."""
    import sys
    import os

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench
    import pytest

    with pytest.raises(ValueError, match="unknown setup line item"):
        bench.run_setup(spark, sf_oracle, only={"bucketd_table_write_typo"})
