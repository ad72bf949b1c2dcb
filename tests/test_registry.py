"""Driver-contract registry shape, checked without a Spark session: every
query has a DuckDB oracle under the same key, the driver window leads both
registries, and no entry of the removed non-search surface is left."""

from __future__ import annotations

import __spark_entry__ as E


def test_queries_and_oracles_share_keys_in_order():
    assert list(E.queries()) == list(E.oracle_sql())


def test_driver_window_leads_the_registry():
    assert list(E.queries())[:50] == list(E._R5_WINDOW)


CURATION_TEXT_OPS = ("text_token_counts", "text_redact_pii", "text_repetition",
                     "text_unigram_logppl", "text_lang_id", "text_quality",
                     "text_decontaminate", "doc_fingerprint")


def test_no_non_search_entries():
    stale = [k for k in E.queries()
             if k.startswith(("analytics_", "events_", "multimodal_",
                              "dedup_", "embed_", "hybrid_", "docs_sample_"))
             or k in CURATION_TEXT_OPS]
    assert stale == []


def test_no_row_twin_entries():
    """One Spark plan per query semantics: the row twins of AND, role
    filter, proximity and phrase are gone; their packed entries stay."""
    keys = set(E.queries())
    assert not keys & {"bm25_topk_and", "bm25_topk_filtered",
                       "bm25_topk_proximity", "phrase_match"}
    assert {"bm25_topk_and_wand", "bm25_topk_filtered_wand",
            "bm25_topk_proximity_wand", "phrase_match_packed"} <= keys


def test_no_layout_twin_entries():
    """One at-rest layout: the doc_id-bucketed twin of doc_keywords is gone,
    doc_keywords stays, and the window slot it held went to flame_count."""
    keys = set(E.queries())
    assert "doc_keywords_bucketed" not in keys
    assert "doc_keywords" in keys
    assert "flame_count" in E._R5_WINDOW
