"""Round-13 property tests: independent references for the new
surfaces. The oracle twins share algorithmic STRUCTURE with the Spark
side by design (that is what makes them bit-exact); these tests check
the algorithms against independently-written pure-Python references
and randomized inputs, so a shared structural mistake cannot hide."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _psl_reference(host: str, rules: list[str]) -> str | None:
    """Pure-Python Public-Suffix-List reference, written from the
    publicsuffix.org algorithm statement (rule = suffix of labels
    with * matching exactly one label; prevailing = exception first,
    else most rule labels; public suffix of an exception = the rule
    minus its first label; default rule '*'; registered domain =
    public suffix + one label, None when the host IS one)."""
    labels = host.split(".")
    best_key = None
    best_ps: list[str] | None = None
    for r in rules:
        exc = r.startswith("!")
        wild = r.startswith("*.")
        base = r[1:] if exc else (r[2:] if wild else r)
        bl = base.split(".")
        need = len(bl) + (1 if wild else 0)
        if len(labels) < need:
            continue
        if labels[len(labels) - len(bl):] != bl:
            continue
        if wild:
            ps = labels[len(labels) - len(bl) - 1:]
        elif exc:
            ps = bl[1:]
        else:
            ps = bl
        key = (exc, len(bl) + (1 if wild else 0))
        if best_key is None or key > best_key:
            best_key, best_ps = key, ps
    ps = best_ps if best_ps is not None else labels[-1:]
    if len(labels) <= len(ps):
        return None
    return ".".join(labels[len(labels) - len(ps) - 1:])


def test_psl_matches_pure_python_reference_on_random_hosts(spark):
    """300 random hosts (1–6 labels over a pool that collides with
    every rule class) must agree with the independent reference
    exactly — including None for public-suffix hosts and the default
    rule for unknown TLDs."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.urls import (
        psl_rules_dim,
        url_registered_domain_psl,
    )

    rules = [
        "com", "uk", "co.uk", "org.uk", "cn", "gov.cn", "jp", "br",
        "*.nom.br", "*.kawasaki.jp", "!city.kawasaki.jp", "kawasaki.jp",
    ]
    pool = [
        "a", "b", "www", "co", "uk", "gov", "cn", "nom", "br", "jp",
        "kawasaki", "city", "site1", "site2", "com", "zz",
    ]
    rng = random.Random(1307)
    hosts = sorted(
        {
            ".".join(rng.choice(pool) for _ in range(rng.randint(1, 6)))
            for _ in range(300)
        }
    )
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r.host: r.reg
        for r in url_registered_domain_psl(
            df, psl_rules_dim(spark, rules), out_col="reg"
        ).collect()
    }
    mismatches = []
    for h in hosts:
        want = _psl_reference(h, rules)
        if got[h] != want:
            mismatches.append((h, got[h], want))
    assert not mismatches, mismatches[:10]


def test_charlm_arrow_parity_on_random_strings(spark):
    """The Arrow kernel must equal the expression path on 200 random
    strings over a hostile alphabet (letters, digits, punctuation,
    non-ascii, repeats, empty) — randomized extension of the planted
    edge-doc pin."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.functions.charlm import (
        char_trigram_lm,
        charlm_score_expr,
        charlm_scores_arrow,
    )

    alphabet = "abcxyz 09.!ÉİßÆ漢字"
    rng = random.Random(13)
    rows = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    table = char_trigram_lm(docs)
    expr = {
        r.doc_id: (r.n_trigrams, r.mean_p, r.min_p)
        for r in docs.select(
            "doc_id", charlm_score_expr(F.col("text"), table).alias("s")
        )
        .select("doc_id", "s.*")
        .collect()
    }
    arw = {
        r.doc_id: (r.n_trigrams, r.mean_p, r.min_p)
        for r in charlm_scores_arrow(docs, table).collect()
    }
    assert expr == arw


def test_tombstone_lww_converges_under_any_mark_order(spark, tmp_path):
    """Takedown marks are an upsert table: ANY delivery order of the
    same (doc_id, seq, dead) marks — including replays — must converge
    to the same dead set (max-struct LWW). 5 random permutations of a
    mark history over 6 docs, with one replayed epoch each."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.streaming.incremental import (
        dead_ids,
        signature_tombstone_table,
    )

    history = [
        (1, 1, True), (1, 3, False),            # deleted then undeleted
        (2, 2, True),                            # deleted, stays dead
        (3, 1, True), (3, 2, True),              # deleted twice
        (4, 5, False), (4, 4, True),             # undelete wins by seq
        (5, 1, False),                           # explicit never-dead mark
        (6, 2, True), (6, 2, False),             # same-seq tie: dead wins
    ]
    want_dead = {2, 3, 6}
    rng = random.Random(99)
    for trial in range(5):
        marks = history[:]
        rng.shuffle(marks)
        tomb = signature_tombstone_table(
            spark, str(tmp_path / f"idx{trial}")
        )
        for epoch, chunk in enumerate(
            [marks[i : i + 3] for i in range(0, len(marks), 3)]
        ):
            df = spark.createDataFrame(
                chunk, "doc_id long, seq long, dead boolean"
            )
            tomb.merge_batch(df, epoch_id=epoch)
            if epoch == 1:  # replay
                tomb.merge_batch(df, epoch_id=epoch)
        got = {r.doc_id for r in dead_ids(tomb).collect()}
        assert got == want_dead, (trial, got)
