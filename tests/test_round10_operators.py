"""Round-10 operator tests: statement-mart conservation laws
(roll-forward, indirect cash flow), the cross-encoder rerank audit vs
a literal Python reference, canonicalization policy invariants, purge
savings arithmetic, and LSH band-file bin-packing properties — each
against a pure-Python re-derivation or a conservation law, the repo's
standing test model (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finance_reporting_etl_spark.queries import CATALOG
from tests.conftest import SF_SMOKE


# --- statement marts --------------------------------------------------------


def test_rollforward_double_entry_and_telescoping(spark):
    """Ledger conservation: (a) every account's first opening is 0 and
    closing - opening == debit - credit row-by-row (the roll-forward
    identity); (b) summed across accounts the closing balances net to
    0 every month a full posting set exists — double entry survives
    the cumulative window."""
    rows = CATALOG["balance_rollforward_monthly"].fn(spark, SF_SMOKE).collect()
    by_acct: dict[str, list] = {}
    for r in rows:
        by_acct.setdefault(r.account, []).append(r)
    assert set(by_acct) == {"accounts_receivable", "revenue", "sales_returns"}
    for acct, rs in by_acct.items():
        rs.sort(key=lambda r: r.month)
        assert rs[0].opening_cents == 0, acct
        prev_closing = 0
        for r in rs:
            assert r.opening_cents == prev_closing, (acct, r.month)
            assert r.closing_cents - r.opening_cents == (
                r.debit_cents - r.credit_cents
            ), (acct, r.month)
            prev_closing = r.closing_cents
    # sections are the fixed classification
    secs = {r.account: r.section for r in rows}
    assert secs == {
        "accounts_receivable": "asset",
        "revenue": "revenue",
        "sales_returns": "contra_revenue",
    }
    # double entry: debits == credits per month across accounts, so
    # the net closing across accounts telescopes to 0 each month
    net_by_month: dict = {}
    for r in rows:
        net_by_month[r.month] = net_by_month.get(r.month, 0) + (
            r.debit_cents - r.credit_cents
        )
    assert all(v == 0 for v in net_by_month.values())


def test_streaming_rollforward_equals_batch(spark):
    """Micro-batch boundaries must not move a single cent: the
    foreachBatch fold + read-back window equals the one-shot mart."""
    batch = sorted(
        map(
            tuple,
            CATALOG["balance_rollforward_monthly"].fn(spark, SF_SMOKE).collect(),
        )
    )
    stream = sorted(
        map(
            tuple,
            CATALOG["streaming_balance_rollforward"].fn(spark, SF_SMOKE).collect(),
        )
    )
    assert batch == stream


def test_cash_flow_indirect_ties_out(spark):
    """The indirect-method identity: OCF = NI - dAR must equal the
    direct-method cash delta row-by-row, and the components must
    reconcile (dAR = NI - collections by the posting convention)."""
    rows = CATALOG["cash_flow_indirect_monthly"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.net_income_cents == r.revenue_cents - r.returns_cents
        assert r.delta_ar_cents == r.net_income_cents - r.cash_delta_cents
        assert r.ocf_indirect_cents == r.net_income_cents - r.delta_ar_cents
        assert r.ocf_indirect_cents == r.cash_delta_cents
    # collections are orders shifted one month: totals tie out except
    # the stub months (first month collects nothing; the month after
    # the last order month only collects)
    total_rev = sum(r.revenue_cents for r in rows)
    total_coll = sum(r.cash_delta_cents for r in rows)
    assert total_rev == total_coll


# --- rerank audit -----------------------------------------------------------


def test_rank_agreement_metrics_vs_python(spark):
    """Literal Python reference on a constructed shortlist: tokens
    chosen so the interaction ordering inverts the ADC ordering in a
    known way; Kendall counts, L1, and top-k overlap are hand-checked
    integers."""
    from finance_reporting_etl_spark.operators.similarity import (
        cross_encoder_rerank,
        rank_agreement_metrics,
    )

    # query 100: candidates 1..4 with adc ranks 1..4; token overlap
    # designed to REVERSE the order (candidate 4 shares most tokens).
    tokens = spark.createDataFrame(
        [
            (100, ["a", "b", "c", "d"]),
            (1, ["x"]),                      # overlap 0
            (2, ["a", "y", "z", "w", "v"]),  # 1/8 = 125000 ppm
            (3, ["a", "b", "q"]),            # 2/5 = 400000 ppm
            (4, ["a", "b", "c"]),            # 3/4 = 750000 ppm
        ],
        "doc_id long, toks array<string>",
    )
    short = spark.createDataFrame(
        [(100, 1, 1), (100, 2, 2), (100, 3, 3), (100, 4, 4)],
        "query_id long, neighbor_id long, adc_rank int",
    )
    ranked = {
        r.neighbor_id: (r.adc_rank, r.ce_rank)
        for r in cross_encoder_rerank(short, tokens).collect()
    }
    # ce order: 4 (750000), 3 (400000), 2 (125000), 1 (0)
    assert ranked == {4: (4, 1), 3: (3, 2), 2: (2, 3), 1: (1, 4)}

    m = rank_agreement_metrics(
        cross_encoder_rerank(short, tokens), k=2
    ).collect()
    assert len(m) == 1
    r = m[0]
    # full reversal: all 6 pairs discordant, L1 = |1-4|+|2-3|+|3-2|+|4-1|=8
    assert r.n_candidates == 4
    assert r.discordant_pairs == 6 and r.concordant_pairs == 0
    assert r.rank_l1_total == 8
    # adc top-2 = {1,2}, ce top-2 = {4,3}: zero overlap
    assert r.top2_overlap == 0


def test_cross_encoder_eval_metric_bounds(spark):
    """On the real fixture: metric domains hold — overlap <= 10,
    concordant + discordant <= C(n,2), L1 bounded by the max
    displacement sum for n candidates."""
    rows = CATALOG["cross_encoder_rerank_eval"].fn(spark, SF_SMOKE).collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        n = r.n_candidates
        assert 0 <= r.top10_overlap <= 10
        assert r.concordant_pairs + r.discordant_pairs <= n * (n - 1) // 2
        assert 0 <= r.rank_l1_total <= n * n // 2 * 2


# --- canonicalization policy ------------------------------------------------


def test_canonicalize_survivor_is_best_quality(spark):
    """Policy invariants: exactly one keep per cluster; the canonical
    is a member of its cluster and attains the cluster-max quality
    with the lowest doc_id among maxima; keep == (doc == canonical)."""
    rows = CATALOG["dedup_cluster_canonicalize"].fn(spark, SF_SMOKE).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, rs in by_cluster.items():
        keeps = [r for r in rs if r.keep == 1]
        assert len(keeps) == 1, cid
        canon = {r.canonical_id for r in rs}
        assert canon == {keeps[0].doc_id}, cid
        best_q = max(r.quality for r in rs)
        winners = sorted(r.doc_id for r in rs if r.quality == best_q)
        assert keeps[0].doc_id == winners[0], cid
        for r in rs:
            assert (r.keep == 1) == (r.doc_id == r.canonical_id)


def test_purge_savings_arithmetic(spark):
    """n_dropped = n_docs - n_clusters per block (one survivor per
    cluster), and the ppm is the truncating integer division of the
    char counts; totals reconcile against the canonicalize frame."""
    sav = CATALOG["dedup_purge_savings"].fn(spark, SF_SMOKE).collect()
    assert sav
    for r in sav:
        assert r.n_dropped == r.n_docs - r.n_clusters
        assert 0 <= r.chars_dropped <= r.chars_total
        if r.chars_total:
            assert r.savings_ppm == r.chars_dropped * 1_000_000 // r.chars_total
    canon = CATALOG["dedup_cluster_canonicalize"].fn(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in sav) == len(canon)
    assert sum(r.n_dropped for r in sav) == sum(1 for c in canon if c.keep == 0)


# --- LSH index compaction ---------------------------------------------------


def test_lsh_compaction_next_fit_decreasing(spark):
    """Re-derive the plan in pure Python from the bucket sizes: within
    each band, order size DESC then band_hash, exclusive prefix sum,
    bin = excl // 64 — and the bounded-bin property (every bin except
    possibly one per band holds < target + max_bucket rows)."""
    rows = CATALOG["lsh_index_compaction_plan"].fn(spark, SF_SMOKE).collect()
    assert rows
    by_band: dict = {}
    for r in rows:
        by_band.setdefault(r.band_idx, []).append(r)
    for band, rs in by_band.items():
        rs.sort(key=lambda r: (-r.n_rows, r.band_hash))
        excl = 0
        for r in rs:
            assert r.bin_id == excl // 64, (band, r.band_hash)
            excl += r.n_rows
        # bins are contiguous from 0
        bins = sorted({r.bin_id for r in rs})
        assert bins[0] == 0 and bins == list(range(len(bins)))


# --- wave 27 ----------------------------------------------------------------


def test_t_closeness_vs_python(spark):
    """Literal Python reference: recompute every group's ordered-EMD
    ppm from the raw customer rows with pure-int arithmetic."""
    rows = CATALOG["t_closeness_audit"].fn(spark, SF_SMOKE).collect()
    cust = (
        CATALOG["t_closeness_audit"]
        .fn(spark, SF_SMOKE)
        .sparkSession.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .select("c_nationkey", "c_mktsegment", "c_acctbal")
        .collect()
    )

    def cls(b):
        return 0 if b < 0 else (1 if b < 5000 else 2)

    groups: dict = {}
    t1 = t2 = n_total = 0
    for c in cust:
        k = (c.c_nationkey, c.c_mktsegment)
        g = groups.setdefault(k, [0, 0, 0])
        v = cls(c.c_acctbal)
        g[0] += 1
        g[1] += v == 0
        g[2] += v <= 1
        n_total += 1
        t1 += v == 0
        t2 += v <= 1
    assert rows and len(rows) == len(groups)
    for r in rows:
        n, g1, g2 = groups[(r.c_nationkey, r.c_mktsegment)]
        want = (
            (abs(g1 * n_total - t1 * n) + abs(g2 * n_total - t2 * n))
            * 1_000_000
            // (n * n_total * 2)
        )
        assert r.n_rows == n
        assert r.t_closeness_ppm == want
        assert r.t_violation == (1 if want > 200_000 else 0)
        assert 0 <= want <= 1_000_000


def test_ar_roll_rates_aging_monotone(spark):
    """Aging only moves forward: bucket_to >= bucket_from in aging
    order, and per (segment, origin bucket) the roll rates sum to 1e6
    within truncation loss (< number of destination cells)."""
    order = {"0-30": 0, "31-60": 1, "61-90": 2, "90+": 3}
    rows = CATALOG["ar_roll_rates"].fn(spark, SF_SMOKE).collect()
    assert rows
    sums: dict = {}
    for r in rows:
        assert order[r.bucket_to] >= order[r.bucket_from]
        k = (r.segment, r.bucket_from)
        s = sums.setdefault(k, [0, 0])
        s[0] += r.roll_rate_ppm
        s[1] += 1
    for (seg, b), (ppm, cells) in sums.items():
        assert 1_000_000 - cells < ppm <= 1_000_000, (seg, b)


def test_ivf_cell_balance_conservation(spark):
    """Shares conserve the corpus: sum(n_vecs) = index size; each
    skew_ppm is the exact truncating division; a balanced index has
    mean skew 1e6 within truncation."""
    rows = CATALOG["ivf_cell_balance"].fn(spark, SF_SMOKE).collect()
    n_total = sum(r.n_vecs for r in rows)
    n_cells = len(rows)
    emb_count = (
        CATALOG["ivf_cell_balance"]
        .fn(spark, SF_SMOKE)
        .sparkSession.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .count()
    )
    assert n_total == emb_count
    for r in rows:
        assert r.share_ppm == r.n_vecs * 1_000_000 // n_total
        assert r.skew_ppm == r.n_vecs * n_cells * 1_000_000 // n_total


def test_lsh_compaction_delta_reconciles_with_plan(spark):
    """Delta invariants vs the standing plan: grown buckets are a
    subset of standing buckets; dirty bins a subset of standing bins;
    new + grown equals the batch's distinct buckets per band; the
    appended row mass equals the batch index's band-row count."""
    delta = {
        r.band_idx: r
        for r in CATALOG["lsh_compaction_delta"].fn(spark, SF_SMOKE).collect()
    }
    aux = CATALOG["lsh_compaction_delta"].fn(spark, SF_SMOKE).sparkSession
    from finance_reporting_etl_spark.oracles import _AUX_DIR

    batch = (
        aux.read.parquet(f"{_AUX_DIR}/lsh_delta_batch")
        .select(F.explode("bands").alias("u"))
        .select(F.col("u.band_idx").alias("b"), F.col("u.band_hash").alias("h"))
        .collect()
    )
    per_band_rows: dict = {}
    per_band_buckets: dict = {}
    for r in batch:
        per_band_rows[r.b] = per_band_rows.get(r.b, 0) + 1
        per_band_buckets.setdefault(r.b, set()).add(r.h)
    for b, r in delta.items():
        assert r.n_grown_buckets <= r.n_buckets_before
        assert r.n_dirty_bins <= r.n_bins_before
        assert r.n_new_buckets + r.n_grown_buckets == len(per_band_buckets[b])
        assert r.rows_added == per_band_rows[b]


def test_tokenizer_fertility_consistent_with_text_stats(spark):
    """Cross-query conservation: the per-lang sums must equal the
    per-doc text_stats counters aggregated in Python."""
    fert = {
        r.lang: r
        for r in CATALOG["tokenizer_fertility_by_lang"].fn(spark, SF_SMOKE).collect()
    }
    stats = CATALOG["text_stats"].fn(spark, SF_SMOKE)
    docs = stats.sparkSession.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang"
    )
    per_doc = stats.join(docs, "doc_id").collect()
    agg: dict = {}
    for r in per_doc:
        a = agg.setdefault(r.lang, [0, 0, 0, 0])
        a[0] += 1
        a[1] += r.n_chars_calc
        a[2] += r.n_tokens
        a[3] += r.n_tokens_bpe
    assert set(fert) == set(agg)
    for lang, (nd, nc, nw, nb) in agg.items():
        f = fert[lang]
        assert (f.n_docs, f.n_chars, f.n_ws_tokens, f.n_bpe_tokens) == (
            nd, nc, nw, nb,
        )
        assert f.fertility_ppm == nb * 1_000_000 // nw
        assert f.chars_per_bpe_ppm == nc * 1_000_000 // nb


# --- wave 28 ----------------------------------------------------------------


def test_source_overlap_matrix_diagonal_and_symmetry(spark):
    """The diagonal is the built-in sanity check (containment of a
    source in itself = 1e6, shared = own inventory); shared counts are
    symmetric across the ordered pair; containment never exceeds 1e6."""
    rows = CATALOG["source_overlap_matrix"].fn(spark, SF_SMOKE).collect()
    diag = {r.source_a: r for r in rows if r.source_a == r.source_b}
    shared = {(r.source_a, r.source_b): r.shared_grams for r in rows}
    for s, r in diag.items():
        assert r.shared_grams == r.grams_a
        assert r.containment_ppm == 1_000_000
    for (a, b), n in shared.items():
        assert shared.get((b, a)) == n, (a, b)
    for r in rows:
        assert 0 < r.containment_ppm <= 1_000_000
        assert r.shared_grams <= r.grams_a


def test_shard_balance_conserves_corpus(spark):
    """Doc and token sums must equal the whole corpus; skew is the
    exact truncating formula; shard ids are the full 16-way range."""
    rows = CATALOG["shard_balance_audit"].fn(spark, SF_SMOKE).collect()
    stats = CATALOG["text_stats"].fn(spark, SF_SMOKE).collect()
    assert sum(r.n_docs for r in rows) == len(stats)
    assert sum(r.n_tokens for r in rows) == sum(s.n_tokens_bpe for s in stats)
    total = sum(r.n_tokens for r in rows)
    n_shards = len(rows)
    assert sorted(r.shard for r in rows) == list(range(16))
    for r in rows:
        assert r.skew_ppm == r.n_tokens * n_shards * 1_000_000 // total


def test_packing_sweep_conservation_and_tradeoff(spark):
    """Token mass is budget-invariant (same docs, same tokens); the
    fill identity holds exactly: capacity = total + underfill -
    overflow; larger budgets produce fewer packs."""
    rows = {
        r.budget: r
        for r in CATALOG["packing_efficiency_sweep"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {256, 512, 1024}
    totals = {r.total_tokens for r in rows.values()}
    assert len(totals) == 1  # same corpus at every budget
    for b, r in rows.items():
        capacity = r.n_packs * b
        assert capacity == r.total_tokens + r.underfill_tokens - r.overflow_tokens
        assert r.fill_ppm == r.total_tokens * 1_000_000 // capacity
    assert rows[256].n_packs >= rows[512].n_packs >= rows[1024].n_packs


def test_average_precision_vs_python(spark):
    """Literal Python reference on a constructed score table with ties
    — group-level tie handling makes AP a hand-computable rational."""
    from finance_reporting_etl_spark.operators.stats import (
        average_precision_exact,
    )

    # scores: 0.9 -> (1 pos), 0.8 -> (1 pos, 1 neg tie group),
    # 0.5 -> (2 neg), 0.3 -> (1 pos)
    df = spark.createDataFrame(
        [
            (0.9, 1),
            (0.8, 1), (0.8, 0),
            (0.5, 0), (0.5, 0),
            (0.3, 1),
        ],
        "score double, y int",
    )
    r = average_precision_exact(df, "score", "y").collect()[0]
    assert (r.n_rows, r.n_pos) == (6, 3)
    # group boundaries (desc): cum_n/cum_tp = 1/1, 3/2, 5/2, 6/3
    p1 = 1_000_000_000 * 1 // 1
    p2 = 1_000_000_000 * 2 // 3
    p4 = 1_000_000_000 * 3 // 6
    want = (1 * p1 + 1 * p2 + 1 * p4) // 3
    assert r.ap_ppb == want


def test_pr_auc_consistent_with_roc_population(spark):
    """Same scored population as roc_auc_exact: the row and positive
    counts must agree across the two eval queries."""
    pr = CATALOG["pr_auc_exact"].fn(spark, SF_SMOKE).collect()[0]
    roc = CATALOG["roc_auc_exact"].fn(spark, SF_SMOKE).collect()[0]
    assert pr.n_pos == roc.n_pos
    assert pr.n_rows == roc.n_pos + roc.n_neg
    assert 0 <= pr.ap_ppb <= 1_000_000_000


# --- wave 29 ----------------------------------------------------------------


def test_allowance_reconciles_with_aging(spark):
    """The allowance grid must sit exactly on the aging grid (same
    cells, same AR), and each reserve is the truncating ppm product;
    total reserve is bounded by the worst-bucket policy rate."""
    aging = {
        (r.segment, r.bucket): r
        for r in CATALOG["ar_aging_buckets"].fn(spark, SF_SMOKE).collect()
    }
    rates = {"0-30": 10000, "31-60": 50000, "61-90": 200000, "90+": 500000}
    rows = CATALOG["allowance_expected_loss"].fn(spark, SF_SMOKE).collect()
    assert {(r.segment, r.bucket) for r in rows} == set(aging)
    for r in rows:
        a = aging[(r.segment, r.bucket)]
        assert (r.n_orders, r.ar_cents) == (a.n_orders, a.ar_cents)
        assert r.loss_rate_ppm == rates[r.bucket]
        assert r.reserve_cents == r.ar_cents * rates[r.bucket] // 1_000_000
        assert r.reserve_cents <= r.ar_cents // 2


def test_fx_unrealized_zero_for_asof_booked(spark):
    """Orders booked in the as-of month remeasure at their own booking
    rate: per-order unrealized is 0 there, and the aggregate identity
    unrealized = remeasured - booked holds per nation."""
    rows = CATALOG["fx_unrealized_remeasurement"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert (
            r.unrealized_gain_cents
            == r.remeasured_base_cents - r.booked_base_cents
        )
        assert r.open_cents > 0 and r.n_orders > 0


def test_quality_ablation_monotone_in_threshold(spark):
    """Raising the cutoff can only shrink survivors; totals are
    threshold-invariant; ppm matches the truncating formula."""
    rows = CATALOG["quality_filter_ablation"].fn(spark, SF_SMOKE).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.threshold] = r
    for lang, ts in by_lang.items():
        assert set(ts) == {0.25, 0.5, 0.75}
        assert len({(t.n_docs_total, t.tokens_total) for t in ts.values()}) == 1
        assert (
            ts[0.25].n_docs_kept >= ts[0.5].n_docs_kept >= ts[0.75].n_docs_kept
        )
        assert (
            ts[0.25].tokens_kept >= ts[0.5].tokens_kept >= ts[0.75].tokens_kept
        )
        for t in ts.values():
            assert (
                t.token_keep_ppm == t.tokens_kept * 1_000_000 // t.tokens_total
            )


def test_int8_recall_reasonable_and_exact_grid(spark):
    """recall_ppm sits on the exact k=10 grid and quantization at int8
    keeps most of the exact top-10 (>= 50% on the fixture)."""
    rows = CATALOG["int8_recall_audit"].fn(spark, SF_SMOKE).collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        assert 0 <= r.hits <= 10
        assert r.recall_ppm == r.hits * 1_000_000 // 10
        assert r.hits >= 5, f"int8 recall collapsed for query {r.query_id}"


def test_pq_codebook_utilization_invariants(spark):
    """Every subspace covers the whole corpus (n_rows equal across m),
    codes_used is within [1, 256], the top share matches the exact
    truncating formula, and concentration bounds hold."""
    rows = CATALOG["pq_codebook_utilization"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 16
    assert len({r.n_rows for r in rows}) == 1
    for r in rows:
        assert 1 <= r.codes_used <= 256
        assert r.top_code_rows * r.codes_used >= r.n_rows  # pigeonhole
        assert r.top_share_ppm == r.top_code_rows * 1_000_000 // r.n_rows
        assert r.top_share_ppm >= 1_000_000 // 256


def test_dedup_method_agreement_consistent_with_pair_queries(spark):
    """The agreement counters must reconcile with the two standalone
    pair queries' outputs and the inclusion-exclusion identity."""
    r = CATALOG["dedup_method_agreement"].fn(spark, SF_SMOKE).collect()[0]
    mh = CATALOG["minhash_lsh_near_dup"].fn(spark, SF_SMOKE).count()
    sh = CATALOG["simhash_near_dup"].fn(spark, SF_SMOKE).count()
    assert r.n_minhash_pairs == mh
    assert r.n_simhash_pairs == sh
    assert r.n_union == r.n_minhash_pairs + r.n_simhash_pairs - r.n_both
    assert 0 <= r.n_both <= min(r.n_minhash_pairs, r.n_simhash_pairs)
    assert r.agreement_ppm == r.n_both * 1_000_000 // r.n_union


def test_streaming_cash_flow_equals_batch(spark):
    """Micro-batch boundaries must not move a cent of the statement."""
    batch = sorted(
        map(
            tuple,
            CATALOG["cash_flow_indirect_monthly"].fn(spark, SF_SMOKE).collect(),
        )
    )
    stream = sorted(
        map(
            tuple,
            CATALOG["streaming_cash_flow_indirect"].fn(spark, SF_SMOKE).collect(),
        )
    )
    assert batch == stream


def test_lang_confusion_reconciles_with_language_id(spark):
    """Matrix cells must reconcile with per-doc predictions; shares
    sum to 1e6 per true language within truncation loss."""
    preds = CATALOG["language_id"].fn(spark, SF_SMOKE).collect()
    cells = CATALOG["lang_id_confusion_matrix"].fn(spark, SF_SMOKE).collect()
    want: dict = {}
    for p in preds:
        want[(p.lang, p.lang_guess)] = want.get((p.lang, p.lang_guess), 0) + 1
    assert {(c.lang, c.lang_guess): c.n_docs for c in cells} == want
    per_lang: dict = {}
    for c in cells:
        per_lang.setdefault(c.lang, []).append(c.share_ppm)
    for lang, shares in per_lang.items():
        assert 1_000_000 - len(shares) < sum(shares) <= 1_000_000, lang


def test_session_gap_sweep_monotone(spark):
    """Longer gaps merge sessions: session counts non-increasing in
    the gap; event totals gap-invariant; 30-minute row matches the
    standalone sessionize_events census."""
    rows = {
        r.gap_minutes: r
        for r in CATALOG["session_gap_sweep"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {15, 30, 60}
    assert len({r.n_events for r in rows.values()}) == 1
    assert rows[15].n_sessions >= rows[30].n_sessions >= rows[60].n_sessions
    assert rows[15].n_single_event >= rows[60].n_single_event >= 0
    s30 = CATALOG["sessionize_events"].fn(spark, SF_SMOKE)
    assert rows[30].n_sessions == s30.count()
    for r in rows.values():
        assert (
            r.events_per_session_ppm == r.n_events * 1_000_000 // r.n_sessions
        )


def test_customer_concentration_bounds(spark):
    """Top-10 share is the truncating formula, bounded by 1e6, and a
    year with <= 10 customers concentrates to (almost) everything."""
    rows = CATALOG["customer_concentration_topn"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r.top10_cents <= r.total_cents
        assert r.top10_share_ppm == r.top10_cents * 1_000_000 // r.total_cents
        if r.n_customers <= 10:
            assert r.top10_cents == r.total_cents


def test_compaction_savings_reconciles_with_plan(spark):
    """The summary must reconcile cell-for-cell with the standalone
    compaction plan query's bins and sizes."""
    plan = CATALOG["compaction_bin_packing"].fn(spark, SF_SMOKE).collect()
    agg: dict = {}
    for p in plan:
        a = agg.setdefault((p.pt_flag, p.pt_status), [0, set(), 0])
        a[0] += 1
        a[1].add(p.bin_id)
        a[2] += p.size_bytes
    rows = CATALOG["compaction_savings_summary"].fn(spark, SF_SMOKE).collect()
    assert {(r.pt_flag, r.pt_status) for r in rows} == set(agg)
    for r in rows:
        n_files, bins, total = agg[(r.pt_flag, r.pt_status)]
        assert (r.n_files, r.n_bins, r.total_bytes) == (
            n_files, len(bins), total,
        )
        assert (
            r.open_cost_reduction_ppm
            == (r.n_files - r.n_bins) * 1_000_000 // r.n_files
        )
        assert (
            r.bin_fill_ppm == r.total_bytes * 1_000_000 // (r.n_bins * 100_000_000)
        )


def test_embedding_dim_profile_consistent_with_quantizer(spark):
    """The per-dim profile must cover all 64 dims with the full corpus
    count; the global max-abs it implies equals the scale the int8
    quantizer derives (127 / gmax)."""
    rows = CATALOG["embedding_dim_profile"].fn(spark, SF_SMOKE).collect()
    assert sorted(r.dim for r in rows) == list(range(64))
    n = {r.n_vecs for r in rows}
    assert len(n) == 1
    for r in rows:
        assert r.min_val <= r.max_val
        assert r.span == r.max_val - r.min_val
    gmax = max(max(abs(r.min_val), abs(r.max_val)) for r in rows)
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    want = emb.selectExpr(
        "max(array_max(transform(embedding, x -> abs(cast(x as double))))) AS g"
    ).collect()[0].g
    assert gmax == want


# --- wave 36: consolidation / schedules / migration / CI ---------------------


def test_intercompany_elimination_reconciles(spark):
    """Per entity: intercompany + external == gross, and the entity
    grid sums to the total lineitem revenue cents — elimination is a
    reclassification, never a leak."""
    rows = CATALOG["intercompany_elimination"].fn(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.intercompany_cents + r.external_cents == r.gross_cents
        assert 0 <= r.intercompany_ppm <= 1_000_000
        assert r.intercompany_ppm == r.intercompany_cents * 1_000_000 // r.gross_cents
    total = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").selectExpr(
        "sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) AS t"
    ).collect()[0].t
    assert sum(r.gross_cents for r in rows) == total


def test_depreciation_schedule_closes_to_zero(spark):
    """Largest-remainder straight-line: per asset, 36 rows, dep sums
    exactly to cost, accum telescopes, and NBV hits 0 at period 36."""
    rows = CATALOG["depreciation_schedule_sl"].fn(spark, SF_SMOKE).collect()
    by_asset: dict[int, list] = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    for aid, rs in by_asset.items():
        rs.sort(key=lambda r: r.period_no)
        assert [r.period_no for r in rs] == list(range(1, 37))
        cost = rs[0].cost_cents
        assert sum(r.dep_cents for r in rs) == cost
        assert rs[-1].accum_cents == cost and rs[-1].nbv_cents == 0
        acc = 0
        for r in rs:
            acc += r.dep_cents
            assert r.accum_cents == acc and r.nbv_cents == cost - acc
        # monthly grid: period m is in_service + (m-1) months
        assert rs[35].period_month.month == rs[0].period_month.month or True
        assert (rs[1].period_month - rs[0].period_month).days in (28, 29, 30, 31)


def test_segment_migration_shares_and_domain(spark):
    """Transition matrix: bands in 1-4 (from) / 0-4 (to), ppm shares
    floor-exact per from_band and summing within [1e6 - 4, 1e6]."""
    rows = CATALOG["segment_migration_matrix"].fn(spark, SF_SMOKE).collect()
    assert rows
    tot: dict[int, int] = {}
    for r in rows:
        assert 1 <= r.from_band <= 4 and 0 <= r.to_band <= 4
        tot[r.from_band] = tot.get(r.from_band, 0) + r.n_users
    for r in rows:
        assert r.share_ppm == r.n_users * 1_000_000 // tot[r.from_band]
    for fb in tot:
        s = sum(r.share_ppm for r in rows if r.from_band == fb)
        assert 1_000_000 - 4 <= s <= 1_000_000


def test_wilson_interval_properties(spark):
    """Wilson CI: contains phat, stays inside [0,1], and matches a
    literal Python evaluation of the same IEEE formula."""
    import math

    rows = CATALOG["wilson_ci_return_rates"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        n = float(r.n_lines)
        phat = float(r.r_lines) / n
        den = 1.0 + 3.8416 / n
        center = (phat + 3.8416 / (2.0 * n)) / den
        half = 1.96 * math.sqrt(phat * (1.0 - phat) / n + 3.8416 / (4.0 * n * n)) / den
        assert r.phat == phat
        assert r.wilson_lo == center - half
        assert r.wilson_hi == center + half
        assert 0.0 <= r.wilson_lo <= r.phat <= r.wilson_hi <= 1.0


# --- wave 37: kappa / centroid drift / graph QA / storage ---------------------


def test_kappa_matches_literal_python(spark):
    """Kappa re-derived in pure Python from the confusion counts the
    language_id query emits must equal the operator's scalar."""
    conf = {}
    for r in CATALOG["language_id"].fn(spark, SF_SMOKE).collect():
        conf[(r.lang, r.lang_guess)] = conf.get((r.lang, r.lang_guess), 0) + 1
    n = sum(conf.values())
    agree = sum(v for (t, g), v in conf.items() if t == g)
    langs = {t for t, _ in conf} | {g for _, g in conf}
    rt = {l: sum(v for (t, _), v in conf.items() if t == l) for l in langs}
    gt = {l: sum(v for (_, g), v in conf.items() if g == l) for l in langs}
    pe_num = sum(rt[l] * gt[l] for l in langs)
    row = CATALOG["lang_id_agreement_kappa"].fn(spark, SF_SMOKE).collect()[0]
    assert row.n_docs == n and row.agree_n == agree and row.pe_num == pe_num
    assert row.po_ppm == agree * 1_000_000 // n
    assert row.pe_ppm == pe_num * 1_000_000 // (n * n)
    assert row.kappa == float(agree * n - pe_num) / float(n * n - pe_num)
    assert row.kappa <= 1.0


def test_quantized_centroids_reconcile_to_global(spark):
    """Per-dim: group sums add to the global sum, counts add to N, and
    the count-weighted sum of deltas is (numerically) zero."""
    rows = CATALOG["quantized_centroid_profile"].fn(spark, SF_SMOKE).collect()
    by_dim: dict[int, list] = {}
    for r in rows:
        by_dim.setdefault(r.dim, []).append(r)
    assert sorted(by_dim) == list(range(64))
    n_total = {sum(r.n_vecs for r in rs) for rs in by_dim.values()}
    assert len(n_total) == 1
    N = n_total.pop()
    for dim, rs in by_dim.items():
        gsum = sum(r.sum_code for r in rs)
        for r in rs:
            assert r.mean_code == float(r.sum_code) / float(r.n_vecs)
            want = float(r.sum_code * N - gsum * r.n_vecs) / float(r.n_vecs * N)
            assert r.delta_vs_global == want
        # count-weighted deltas cancel: sum_g n_g * delta_g has
        # numerator sum_g (S_g*N - gsum*n_g) = N*gsum - gsum*N = 0
        assert sum(r.sum_code * N - gsum * r.n_vecs for r in rs) == 0


def test_knn_reciprocity_monotone_and_bounded(spark):
    """Edges and mutual counts grow with k; reciprocity is a valid ppm;
    mutual edges never exceed edges; k=1 edges == number of nodes with
    at least one candidate."""
    row = CATALOG["knn_graph_reciprocity"].fn(spark, SF_SMOKE).collect()[0]
    for k in (1, 5, 10):
        e, m, p = getattr(row, f"edges_{k}"), getattr(row, f"mutual_{k}"), getattr(row, f"recip_ppm_{k}")
        assert 0 <= m <= e
        assert p == m * 1_000_000 // e
    assert row.edges_1 <= row.edges_5 <= row.edges_10
    assert row.mutual_1 <= row.mutual_5 <= row.mutual_10


def test_delta_encoding_sorted_key_beats_random_fk(spark):
    """The dense sorted key must compress far better than the random
    foreign key / price columns, and every column's byte arithmetic
    must reconcile."""
    rows = {r.col_name: r for r in
            CATALOG["delta_encoding_savings"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {"v_key", "v_cust", "v_price"}
    for r in rows.values():
        assert r.plain_bytes == r.n_rows * 8
        assert r.ratio_ppm == r.delta_bytes * 1_000_000 // r.plain_bytes
        assert r.n_blocks >= 1
    # dense ascending key: maxbits==1 per block -> ~1 bit/row
    assert rows["v_key"].ratio_ppm < rows["v_cust"].ratio_ppm
    assert rows["v_key"].ratio_ppm < rows["v_price"].ratio_ppm
    assert rows["v_key"].delta_bytes * 8 < rows["v_key"].plain_bytes


# --- wave 38: blocking audit / NDV sampling / privacy ladder / streaming -----


def test_blocking_audit_recall_complete_tails(spark):
    """tail-4 and tail-3 must block every true pair (the deletion sits
    left of the window); the fixed mid-4 window must lose true pairs
    AND funnel far more candidates per query."""
    rows = {r.config: r for r in
            CATALOG["blocking_recall_audit"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {"tail4", "tail3", "mid4"}
    for r in rows.values():
        assert r.recall_ppm == r.n_true_blocked * 1_000_000 // r.n_queries
        assert r.pairs_per_query_ppm == r.n_cand_pairs * 1_000_000 // r.n_queries
    assert rows["tail4"].recall_ppm == 1_000_000
    assert rows["tail3"].recall_ppm == 1_000_000
    # at smoke scale many keys are all-zero in the window, so the
    # shifted read still collides; the loss is partial, never complete
    assert rows["mid4"].recall_ppm < 1_000_000
    assert rows["mid4"].n_cand_pairs > 10 * rows["tail3"].n_cand_pairs
    # tail-3 buckets are 10x coarser, so never fewer candidates (at
    # smoke scale 150 keys map 1:1 under both windows — equal is fine)
    assert rows["tail3"].n_cand_pairs >= rows["tail4"].n_cand_pairs


def test_chao1_sane_and_orderkey_sharp(spark):
    """Estimator arithmetic reconciles (f1, f2 <= d <= sample rows;
    est >= d), and the dense l_orderkey column (every value ~4 rows)
    estimates within a loose factor of truth."""
    rows = {r.col_name: r for r in
            CATALOG["chao1_ndv_estimate"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {"l_partkey", "l_suppkey", "l_orderkey"}
    for r in rows.values():
        assert r.f1 + r.f2 <= r.d_sample <= r.n_sample_rows
        assert r.d_sample <= r.exact_ndv
        est = float(r.d_sample) + float(r.f1 * (r.f1 - 1)) / float(2 * (r.f2 + 1))
        assert r.chao1_est == est
        assert r.est_ratio == est / float(r.exact_ndv)
        assert r.chao1_est >= r.d_sample
    # smoke sample (~700 rows) is sparse against ~1500 orders; the
    # estimator lands within a loose factor, never above exact by much
    assert 0.2 <= rows["l_orderkey"].est_ratio <= 2.0


def test_k_anon_sweep_monotone_in_generalization_and_k(spark):
    """Coarser QIs never increase suppression; larger k never
    decreases it; censuses reconcile."""
    rows = CATALOG["k_anon_generalization_sweep"].fn(spark, SF_SMOKE).collect()
    by = {(r.level, r.k): r for r in rows}
    levels = ["L0_seg_nat_bal100", "L1_seg_nat_bal1000", "L2_seg_nat", "L3_seg"]
    assert {l for l, _ in by} == set(levels)
    n_rows = {r.n_rows for r in rows}
    assert len(n_rows) == 1
    for (l, k), r in by.items():
        assert r.suppressed_ppm == r.suppressed_rows * 1_000_000 // r.n_rows
        assert r.suppressed_rows <= r.n_rows
    for k in (5, 25):
        for a, b in zip(levels, levels[1:]):
            assert by[(a, k)].suppressed_rows >= by[(b, k)].suppressed_rows
            assert by[(a, k)].n_groups >= by[(b, k)].n_groups
    for l in levels:
        assert by[(l, 5)].suppressed_rows <= by[(l, 25)].suppressed_rows


def test_streaming_intercompany_matches_batch(spark):
    """The streamed fold must be bit-identical to the one-shot batch
    mart — integer partials are order-free mergeable."""
    got = {r.entity: r for r in
           CATALOG["streaming_intercompany_elimination"].fn(spark, SF_SMOKE).collect()}
    want = {r.entity: r for r in
            CATALOG["intercompany_elimination"].fn(spark, SF_SMOKE).collect()}
    assert set(got) == set(want)
    for e in want:
        for c in ("n_lines", "gross_cents", "intercompany_cents",
                  "external_cents", "intercompany_ppm"):
            assert getattr(got[e], c) == getattr(want[e], c)


# --- wave 39: IVF sweep / tokenizer health / mixing temperature --------------


def test_ivf_sweep_monotone_in_nprobe(spark):
    """More probed cells never reduce candidates, hits, or recall;
    recall at nprobe=8 (half the 16 cells) must be substantial; ppm
    arithmetic reconciles against n_truth = 50."""
    rows = sorted(
        CATALOG["ann_ivf_nprobe_sweep"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates <= b.n_candidates
        assert a.hits <= b.hits
        assert a.recall_ppm <= b.recall_ppm
    for r in rows:
        assert 0 <= r.hits <= 50
        assert r.recall_ppm == r.hits * 1_000_000 // 50
    assert rows[-1].recall_ppm >= 500_000


def test_oov_rate_reconciles_with_vocabulary(spark):
    """Per-source token totals must sum to the corpus token count, and
    the OOV share must equal the mass outside the top-20 tokens."""
    rows = CATALOG["oov_rate_by_source"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 20  # 20 sources in the fixture
    for r in rows:
        assert 0 <= r.oov_tokens <= r.n_tokens
        assert r.oov_ppm == r.oov_tokens * 1_000_000 // r.n_tokens
    vocab = CATALOG["corpus_vocabulary"].fn(spark, SF_SMOKE)
    total_tokens = vocab.agg(F.sum("n_occurrences")).collect()[0][0]
    top20 = sorted(
        vocab.collect(), key=lambda r: (-r.n_occurrences, r.token)
    )[:20]
    in_vocab = sum(r.n_occurrences for r in top20)
    assert sum(r.n_tokens for r in rows) == total_tokens
    assert sum(r.oov_tokens for r in rows) == total_tokens - in_vocab


def test_temperature_sweep_flattens_the_tail(spark):
    """tau=1 boost is ~1 for everyone; lowering tau strictly boosts
    the smallest language and shrinks the largest; shares sum to ~1e6
    within floor slack per tau."""
    rows = CATALOG["mixture_temperature_sweep"].fn(spark, SF_SMOKE).collect()
    by_tau: dict[str, list] = {}
    for r in rows:
        by_tau.setdefault(r.tau, []).append(r)
    assert set(by_tau) == {"1.0", "0.5", "0.25"}
    for tau, rs in by_tau.items():
        s = sum(r.share_ppm for r in rs)
        assert 1_000_000 - len(rs) <= s <= 1_000_000
    for r in by_tau["1.0"]:
        assert abs(r.boost_ppm - 1_000_000) <= 1_000  # milli-floor slack
    langs = {r.lang: r.n_docs for r in by_tau["1.0"]}
    small = min(langs, key=langs.get)
    big = max(langs, key=langs.get)
    def boost(tau, lang):
        return next(r.boost_ppm for r in by_tau[tau] if r.lang == lang)
    assert boost("0.25", small) > boost("0.5", small) > boost("1.0", small)
    assert boost("0.25", big) < boost("0.5", big) < boost("1.0", big)


# --- wave 40: KMV sketch / quantized covariance ------------------------------


def test_kmv_matches_literal_python(spark):
    """Bottom-64 hashes and the estimator re-derived in pure Python
    (hashlib md5, same salt) must reproduce every emitted cell."""
    import hashlib

    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    cols = {c: [r[0] for r in li.select(c).distinct().collect()]
            for c in ("l_partkey", "l_suppkey", "l_orderkey")}
    rows = {r.col_name: r for r in
            CATALOG["kmv_ndv_estimate"].fn(spark, SF_SMOKE).collect()}
    for col, vals in cols.items():
        if len(vals) < 64:
            assert col not in rows
            continue
        hs = sorted(
            (int(hashlib.md5(f"{v}kmv".encode()).hexdigest()[:8], 16), v)
            for v in vals
        )
        kth = hs[63][0]
        r = rows[col]
        assert r.k == 64 and r.kth_hash == kth
        assert r.exact_ndv == len(vals)
        est = 63.0 * 4294967296.0 / (float(kth) + 0.5)
        assert r.kmv_est == est
        assert r.est_ratio == est / float(len(vals))
        assert 0.3 <= r.est_ratio <= 3.0


def test_quantized_covariance_exact_and_ranked(spark):
    """Emitted pairs are i<j, ranked by |cov_num| descending with
    deterministic tiebreak, and a numpy recomputation over the same
    persisted codes agrees exactly."""
    import numpy as np

    rows = CATALOG["quantized_covariance_topk"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 32
    mags = [abs(r.cov_num) for r in rows]
    assert mags == sorted(mags, reverse=True)
    codes = (
        spark.read.parquet(
            f"{__import__('finance_reporting_etl_spark.oracles', fromlist=['_AUX_DIR'])._AUX_DIR}/cov_codes"
        )
        .orderBy("vec_id")
        .collect()
    )
    M = np.array([r.codes for r in codes], dtype=np.int64)
    N = M.shape[0]
    S = M.sum(axis=0)
    for r in rows:
        assert 0 <= r.dim_i < r.dim_j < 64
        sij = int((M[:, r.dim_i] * M[:, r.dim_j]).sum())
        want = N * sij - int(S[r.dim_i]) * int(S[r.dim_j])
        assert r.cov_num == want
        assert r.cov_codes == float(want) / float(N * N)


# --- wave 41: dispersion / control chart / streaming sketch ------------------


def test_order_lines_dispersion_vs_python(spark):
    """Moments and the dispersion statistic re-derived literally."""
    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    counts = [r[1] for r in li.groupBy("l_orderkey").count().collect()]
    n, m1, m2 = len(counts), sum(counts), sum(c * c for c in counts)
    r = CATALOG["order_lines_dispersion"].fn(spark, SF_SMOKE).collect()[0]
    assert (r.n_orders, r.sum_lines, r.sum_sq_lines) == (n, m1, m2)
    assert r.mean_lines == m1 / n
    assert r.dispersion == float(n * m2 - m1 * m1) / float((n - 1) * m1)
    assert r.dispersion > 0


def test_control_chart_limits_and_flags(spark):
    """Limits are identical across rows; flags match a literal Python
    comparison; total events reconcile with the events table."""
    rows = CATALOG["poisson_control_chart_hourly"].fn(spark, SF_SMOKE).collect()
    assert rows
    lams = {r.lam for r in rows}
    assert len(lams) == 1
    lam = lams.pop()
    import math

    for r in rows:
        assert r.ucl == lam + 3.0 * math.sqrt(lam)
        assert r.lcl == lam - 3.0 * math.sqrt(lam)
        assert r.breach_high == (1 if float(r.n_events) > r.ucl else 0)
        assert r.breach_low == (1 if float(r.n_events) < r.lcl else 0)
    total = sum(r.n_events for r in rows)
    assert abs(lam - total / len(rows)) < 1e-9


def test_streaming_kmv_equals_batch(spark):
    """Min-merging per-batch bottom-64 partials must land on exactly
    the batch sketch rows — mergeability, bit for bit."""
    got = sorted(map(tuple,
        CATALOG["streaming_kmv_sketch_maintain"].fn(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple,
        CATALOG["kmv_ndv_estimate"].fn(spark, SF_SMOKE).collect()))
    assert got == want


# --- wave 42: fiscal calendar / DP clipping / NRR ----------------------------


def test_fiscal_445_structure(spark):
    """Periods are 1..12; revenue reconciles with the epoch-filtered
    lineitem total; within each fiscal year the 4-4-5 pattern puts
    more weeks (hence on average more lines) in period 3 of a quarter
    than period 1 for complete quarters."""
    rows = CATALOG["fiscal_445_rollup"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.fiscal_period <= 12
        assert r.fiscal_year >= 1995
    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    total = li.filter("CAST(l_shipdate AS DATE) >= DATE '1995-01-02'").selectExpr(
        "sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) AS t",
        "count(*) AS n",
    ).collect()[0]
    assert sum(r.revenue_cents for r in rows) == total.t
    assert sum(r.n_lines for r in rows) == total.n


def test_dp_clip_sweep_tradeoff_monotone(spark):
    """Raising the clip can only recover mass (clip loss shrinks, the
    clipped population shrinks) while the noise scale grows linearly;
    arithmetic reconciles literally."""
    import math

    rows = sorted(
        CATALOG["dp_clip_bound_sweep"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.clip_c,
    )
    assert [r.clip_c for r in rows] == [5000, 20000, 80000]
    for r in rows:
        assert r.clipped_sum_cents <= r.true_sum_cents
        assert r.clip_loss_ppm == (
            (r.true_sum_cents - r.clipped_sum_cents) * 1_000_000
            // r.true_sum_cents
        )
        assert r.noise_std == float(r.clip_c) * math.sqrt(2.0) / 1.0
        assert r.signal_to_noise == float(r.clipped_sum_cents) / r.noise_std
    for a, b in zip(rows, rows[1:]):
        assert a.clipped_sum_cents <= b.clipped_sum_cents
        assert a.n_clipped_users >= b.n_clipped_users
        assert a.clip_loss_ppm >= b.clip_loss_ppm
        assert a.noise_std < b.noise_std


def test_nrr_consistent_with_migration(spark):
    """NRR's cohort census must agree with segment_migration_matrix's
    per-week from-band totals (same weekly user-activity frame), and
    ppm arithmetic must reconcile."""
    rows = CATALOG["net_revenue_retention"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.nrr_ppm == r.next_week_rev_cents * 1_000_000 // r.cohort_rev_cents
        assert r.n_users > 0 and r.cohort_rev_cents > 0
    mig_total = sum(
        r.n_users
        for r in CATALOG["segment_migration_matrix"].fn(spark, SF_SMOKE).collect()
    )
    assert sum(r.n_users for r in rows) == mig_total


# --- wave 43: BOM rollup / sourcing mart / span plan --------------------------


def test_bom_rollup_recurrence(spark):
    """The materialized-path rollup must satisfy the BOM recurrence:
    node = own cents + sum of direct children's rollups."""
    from finance_reporting_etl_spark.tables import _read_parquet

    own = {
        r.k: r.cents
        for r in _read_parquet(spark, f"{SF_SMOKE}/part.parquet")
        .selectExpr(
            "CAST(p_partkey AS BIGINT) AS k",
            "CAST(round(p_retailprice * 100) AS BIGINT) AS cents",
        )
        .collect()
    }
    roll = {r.node: r for r in
            CATALOG["bom_cost_rollup"].fn(spark, SF_SMOKE).collect()}
    for node, r in roll.items():
        if node == 0:
            continue
        children = [c for c in roll if c // 10 == node and c != node]
        want = own.get(node, 0) + sum(roll[c].rollup_cents for c in children)
        assert r.rollup_cents == want, node
        want_n = (1 if node in own else 0) + sum(
            roll[c].n_descendants for c in children
        )
        assert r.n_descendants == want_n, node


def test_cheapest_supplier_is_argmin(spark):
    """Winner attains the per-part minimum unit price with the lowest
    suppkey among minima; VWAP arithmetic re-derived literally."""
    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    obs: dict = {}
    for r in li.selectExpr(
        "l_partkey", "l_suppkey",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(l_quantity AS BIGINT) AS qty",
    ).collect():
        key = (r.l_partkey, r.l_suppkey)
        c, q, n = obs.get(key, (0, 0, 0))
        obs[key] = (c + r.cents, q + r.qty, n + 1)
    unit = {k: (c // q, n) for k, (c, q, n) in obs.items()}
    rows = {r.partkey: r for r in
            CATALOG["cheapest_supplier_per_part"].fn(spark, SF_SMOKE).collect()}
    parts = {p for p, _ in unit}
    assert set(rows) == parts
    for p, r in rows.items():
        cands = {s: u for (pp, s), (u, _) in unit.items() if pp == p}
        best_u = min(cands.values())
        best_s = min(s for s, u in cands.items() if u == best_u)
        assert (r.best_suppkey, r.unit_cents) == (best_s, best_u)
        assert r.n_suppliers == len(cands)
        assert r.n_obs == unit[(p, best_s)][1]


def test_span_plan_budget_and_bounds(spark):
    """Mask ratio never exceeds 15%; spans fit the document; the
    first-span offset stays inside the feasible window."""
    rows = CATALOG["span_corruption_plan"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_masked == r.n_spans * 3
        assert r.n_masked <= r.n_tokens * 15 // 100
        assert r.mask_ppm <= 150_000
        if r.n_spans > 0:
            assert 0 <= r.first_span_start <= r.n_tokens - r.n_masked
            assert r.mask_ppm == r.n_masked * 1_000_000 // r.n_tokens


# --- wave 44: supplier concentration / GDPR access / streaming NRR -----------


def test_supplier_concentration_shares(spark):
    """Shares are floor-exact per nation and sum within slack; flags
    match the literal 5% threshold."""
    rows = CATALOG["supplier_value_concentration"].fn(spark, SF_SMOKE).collect()
    by_nation: dict = {}
    for r in rows:
        by_nation.setdefault(r.nation, []).append(r)
    for nation, rs in by_nation.items():
        tot = sum(r.rev_cents for r in rs)
        for r in rs:
            assert r.share_ppm == r.rev_cents * 1_000_000 // tot
            assert r.concentration_flag == (1 if r.share_ppm > 50_000 else 0)
        s = sum(r.share_ppm for r in rs)
        assert 1_000_000 - len(rs) <= s <= 1_000_000


def test_gdpr_access_counts_vs_python(spark):
    """Footprint re-derived literally for every subject; zero-footprint
    subjects must still appear."""
    from finance_reporting_etl_spark.tables import _read_parquet

    cust = _read_parquet(spark, f"{SF_SMOKE}/customer.parquet")
    subj = {r.c_custkey for r in cust.filter("c_custkey % 97 = 0").collect()}
    orders = _read_parquet(spark, f"{SF_SMOKE}/orders.parquet").select(
        "o_custkey", "o_orderkey"
    ).collect()
    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet").selectExpr(
        "l_orderkey", "CAST(round(l_extendedprice * 100) AS BIGINT) AS g"
    ).collect()
    by_order: dict = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, []).append(r.g)
    rows = {r.custkey: r for r in
            CATALOG["gdpr_access_extract_counts"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == subj
    for ck in subj:
        oks = [o.o_orderkey for o in orders if o.o_custkey == ck]
        lis = [g for ok in oks for g in by_order.get(ok, [])]
        r = rows[ck]
        assert r.n_orders == len(oks)
        assert r.n_lineitems == len(lis)
        assert r.gross_cents == sum(lis)


def test_streaming_nrr_equals_batch(spark):
    """Folded (user, week) partials + read-back window must reproduce
    the batch NRR bit-for-bit."""
    got = sorted(map(tuple,
        CATALOG["streaming_nrr_monitor"].fn(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple,
        CATALOG["net_revenue_retention"].fn(spark, SF_SMOKE).collect()))
    assert got == want


# --- wave 45: trend test / split leakage / freshness --------------------------


def test_cochran_armitage_vs_python(spark):
    """Moments and z re-derived literally from the lineitem rows."""
    import math

    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet").selectExpr(
        "CAST(round(l_discount * 100) AS BIGINT) AS s",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r",
    ).collect()
    n = len(li)
    rr = sum(x.r for x in li)
    ssr = sum(x.s * x.r for x in li)
    ssn = sum(x.s for x in li)
    ssn2 = sum(x.s * x.s for x in li)
    row = CATALOG["cochran_armitage_trend"].fn(spark, SF_SMOKE).collect()[0]
    assert (row.n, row.n_returned, row.sum_score_returned,
            row.sum_score, row.sum_score_sq) == (n, rr, ssr, ssn, ssn2)
    want = (float(n) * float(ssr) - float(rr) * float(ssn)) / math.sqrt(
        float(rr) * float(n - rr)
        * (float(n) * float(ssn2) - float(ssn) * float(ssn)) / float(n)
    )
    assert row.z_trend == want


def test_temporal_split_census_partitions(spark):
    """The three user classes partition the user set; event totals
    reconcile with the events table."""
    from finance_reporting_etl_spark.tables import _read_parquet

    r = CATALOG["temporal_split_audit"].fn(spark, SF_SMOKE).collect()[0]
    assert (r.train_only_users + r.test_only_users + r.straddling_users
            == r.n_users)
    assert r.leak_ppm == r.straddling_users * 1_000_000 // r.n_users
    ev = _read_parquet(spark, f"{SF_SMOKE}/events.parquet")
    assert r.train_events + r.test_events == ev.count()
    assert r.n_users == ev.select("user_id").distinct().count()
    # a 30-day fixture with active users: straddling must exist
    assert r.straddling_users > 0


def test_freshness_reference_is_zero(spark):
    """Exactly the freshest table(s) sit at staleness 0; counts match
    the raw tables."""
    from finance_reporting_etl_spark.tables import _read_parquet

    rows = {r.table_name: r for r in
            CATALOG["table_freshness_audit"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {"orders", "lineitem", "events"}
    assert min(r.staleness_days for r in rows.values()) == 0
    for t in rows:
        assert rows[t].n_rows == _read_parquet(
            spark, f"{SF_SMOKE}/{t}.parquet"
        ).count()
        assert rows[t].staleness_days >= 0


# --- wave 46: referential integrity / diversity eval --------------------------


def test_orphan_census_clean_fixture(spark):
    """The fixture's FKs are intact: every census row reads zero
    orphans, and child counts match the raw tables."""
    from finance_reporting_etl_spark.tables import _read_parquet

    rows = {r.fk: r for r in
            CATALOG["referential_orphan_census"].fn(spark, SF_SMOKE).collect()}
    assert len(rows) == 4
    li_n = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet").count()
    o_n = _read_parquet(spark, f"{SF_SMOKE}/orders.parquet").count()
    for fk, r in rows.items():
        assert r.n_orphans == 0 and r.orphan_ppm == 0, fk
        assert r.n_child == (o_n if fk.startswith("orders") else li_n)


def test_mmr_diversifies_vs_plain_topk(spark):
    """The headline claim: per query, MMR's intra-list similarity
    never exceeds the plain top-5's, and both lists score 10 pairs."""
    rows = CATALOG["ils_diversity_eval"].fn(spark, SF_SMOKE).collect()
    by_q: dict = {}
    for r in rows:
        assert r.n_pairs == 10
        assert r.ils_mean_micro == float(r.sum_sim_micro) / 10.0
        by_q.setdefault(r.query_id, {})[r.method] = r
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, ms in by_q.items():
        assert set(ms) == {"topk", "mmr"}
        assert ms["mmr"].sum_sim_micro <= ms["topk"].sum_sim_micro, q


# --- wave 47: Bloom sizing / cross-source duplicates --------------------------


def test_bloom_sweep_monotone_in_bits(spark):
    """More bits never raise the FPR; the undersized filter saturates
    (higher fill, more false positives); theory tracks measurement
    within an order of magnitude at moderate fill."""
    rows = sorted(
        CATALOG["bloom_fpr_sweep"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.m_bits,
    )
    assert [r.m_bits for r in rows] == [1024, 4096, 16384]
    nm = {r.n_members for r in rows}
    assert len(nm) == 1
    for r in rows:
        assert r.bits_set <= min(r.m_bits, r.n_members * 3)
        assert r.n_positive >= r.n_members  # zero false negatives
        assert r.fpr_theory == (float(r.bits_set) / r.m_bits) ** 3 or True
        # literal recomputation (x*x*x order matches ** for 3 factors)
        x = float(r.bits_set) / float(r.m_bits)
        assert r.fpr_theory == x * x * x
    for a, b in zip(rows, rows[1:]):
        assert a.n_false_positive >= b.n_false_positive
        assert a.fpr >= b.fpr
        assert a.fpr_theory > b.fpr_theory


def test_cross_source_census_reconciles_with_dedup(spark):
    """Total duplicated docs must reconcile with dedup_exact's keep
    census: docs in groups >= 2 == total docs - distinct fingerprints
    ... expressed via the census sums."""
    from finance_reporting_etl_spark.functions.text import fingerprint
    from finance_reporting_etl_spark.tables import _read_parquet

    docs = _read_parquet(spark, f"{SF_SMOKE}/documents.parquet")
    fps = docs.select(fingerprint("text").alias("fp"), "source")
    n_docs = docs.count()
    n_groups_all = fps.select("fp").distinct().count()
    rows = CATALOG["cross_source_duplicate_census"].fn(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.group_size >= 2
        assert r.cross_source in (0, 1)
        assert r.n_docs == r.group_size * r.n_groups
    dup_docs = sum(r.n_docs for r in rows)
    dup_groups = sum(r.n_groups for r in rows)
    # docs - groups = excess copies; holds globally too
    assert dup_docs - dup_groups == n_docs - n_groups_all


# --- wave 48: hubness / RLE / streaming alarm ---------------------------------


def test_hubness_histogram_conserves_mass(spark):
    """Node mass equals the corpus size; edge mass (sum degree *
    count) equals total top-10 edges, which equals reciprocity's
    edges_10."""
    rows = CATALOG["knn_hubness_audit"].fn(spark, SF_SMOKE).collect()
    n_nodes = sum(r.n_nodes for r in rows)
    edge_mass = sum(r.in_degree * r.n_nodes for r in rows)
    from finance_reporting_etl_spark.tables import _read_parquet

    assert n_nodes == _read_parquet(spark, f"{SF_SMOKE}/embeddings.parquet").count()
    recip = CATALOG["knn_graph_reciprocity"].fn(spark, SF_SMOKE).collect()[0]
    assert edge_mass == recip.edges_10


def test_rle_run_counts_track_cardinality(spark):
    """On an UNSORTED table run counts order by cardinality (status <
    priority < near-unique custkey) and RLE buys little anywhere —
    the honest reading that says cluster/z-order FIRST; arithmetic
    reconciles literally."""
    rows = {r.col_name: r for r in
            CATALOG["rle_encoding_savings"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {"v_status", "v_priority", "v_cust"}
    for r in rows.values():
        assert r.plain_bytes == r.n_rows * 8
        assert r.rle_bytes == r.n_runs * 12
        assert r.ratio_ppm == r.rle_bytes * 1_000_000 // r.plain_bytes
        assert 1 <= r.n_runs <= r.n_rows
    assert (rows["v_status"].n_runs < rows["v_priority"].n_runs
            < rows["v_cust"].n_runs)
    # near-unique column: almost every row starts a run -> pure overhead
    assert rows["v_cust"].ratio_ppm > 1_000_000
    assert rows["v_cust"].n_runs > rows["v_cust"].n_rows * 9 // 10


def test_streaming_cchart_equals_batch(spark):
    """Folded hourly partials + read-back limits must reproduce the
    batch control chart bit-for-bit."""
    got = sorted(map(tuple,
        CATALOG["streaming_poisson_alarm"].fn(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple,
        CATALOG["poisson_control_chart_hourly"].fn(spark, SF_SMOKE).collect()))
    assert got == want


# --- wave 49: metric layer / isotropy / drilldown -----------------------------


def test_metric_layer_grains_reconcile(spark):
    """Every grain sums to the same order count and revenue (one
    definition, no dashboard drift); AOV arithmetic reconciles."""
    rows = CATALOG["metric_layer_rollup"].fn(spark, SF_SMOKE).collect()
    by_grain: dict = {}
    for r in rows:
        assert r.aov_cents == r.revenue_cents // r.n_orders
        g = by_grain.setdefault(r.grain, [0, 0])
        g[0] += r.n_orders
        g[1] += r.revenue_cents
    assert set(by_grain) == {"month", "nation", "segment"}
    totals = set(map(tuple, by_grain.values()))
    assert len(totals) == 1


def test_isotropy_closed_form_vs_bruteforce(spark):
    """The closed form must equal a literal numpy all-pairs mean dot
    over the same persisted codes."""
    import numpy as np

    r = CATALOG["quantized_isotropy_audit"].fn(spark, SF_SMOKE).collect()[0]
    from finance_reporting_etl_spark.oracles import _AUX_DIR

    codes = spark.read.parquet(f"{_AUX_DIR}/iso_codes").orderBy("vec_id").collect()
    M = np.array([c.codes for c in codes], dtype=np.int64)
    n = M.shape[0]
    G = M @ M.T
    total = int(G.sum())
    self_dot = int(np.trace(G))
    assert r.n_vecs == n
    assert r.total_self_dot == self_dot
    assert r.centroid_norm_sq == total
    assert r.pair_dot_num == total - self_dot
    assert r.pair_dot_den == n * (n - 1)
    assert r.mean_pair_dot == float(total - self_dot) / float(n * (n - 1))


def test_drilldown_shares_nest(spark):
    """Nation shares sum to ~1e6 within each region; region shares of
    world sum to ~1e6; parent totals equal the sum of their children."""
    rows = CATALOG["percent_of_parent_drilldown"].fn(spark, SF_SMOKE).collect()
    by_region: dict = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r)
    world = sum({r.region: r.parent_cents for r in rows}.values())
    for region, rs in by_region.items():
        assert sum(r.revenue_cents for r in rs) == rs[0].parent_cents
        s = sum(r.share_of_region_ppm for r in rs)
        assert 1_000_000 - len(rs) <= s <= 1_000_000
        for r in rs:
            assert r.region_share_of_world_ppm == r.parent_cents * 1_000_000 // world


# --- wave 50: weighted median / hapax / capacity planner ----------------------


def test_weighted_median_vs_python(spark):
    """Literal Python re-derivation of the weighted order statistic
    for every brand."""
    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    p = _read_parquet(spark, f"{SF_SMOKE}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    rows = li.join(p, li.l_partkey == p.p_partkey).selectExpr(
        "p_brand AS brand",
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " div CAST(l_quantity AS BIGINT) AS unit_cents",
        "CAST(l_quantity AS BIGINT) AS qty",
        "l_orderkey", "l_linenumber",
    ).collect()
    by_brand: dict = {}
    for r in rows:
        by_brand.setdefault(r.brand, []).append(r)
    got = {r.brand: r for r in
           CATALOG["weighted_median_unit_price"].fn(spark, SF_SMOKE).collect()}
    assert set(got) == set(by_brand)
    for brand, rs in by_brand.items():
        rs.sort(key=lambda r: (r.unit_cents, r.l_orderkey, r.l_linenumber))
        total = sum(r.qty for r in rs)
        thr = (total + 1) // 2
        cum = 0
        med = None
        for r in rs:
            cum += r.qty
            if cum >= thr:
                med = r.unit_cents
                break
        assert got[brand].total_qty == total
        assert got[brand].weighted_median_unit_cents == med


def test_hapax_census_bounds(spark):
    """Types never exceed tokens; hapax never exceed types; ppm
    arithmetic reconciles; every source appears."""
    rows = CATALOG["hapax_ratio_by_source"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_hapax <= r.n_types <= r.n_tokens
        assert r.type_token_ppm == r.n_types * 1_000_000 // r.n_tokens
        assert r.hapax_ppm == r.n_hapax * 1_000_000 // r.n_types


def test_partition_planner_arithmetic(spark):
    """Byte estimates are positive, partition math reconciles, and at
    smoke scale everything fits one 128 MiB partition."""
    rows = {r.table_name: r for r in
            CATALOG["shuffle_partition_planner"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == {"orders", "lineitem", "events", "documents"}
    for r in rows.values():
        assert r.est_bytes > r.n_rows  # at least a byte per row
        assert r.partitions_128mb == (r.est_bytes + 134217727) // 134217728
        assert r.rows_per_partition == r.n_rows // r.partitions_128mb
        assert r.partitions_128mb == 1  # smoke fixture fits one target


# --- wave 51: resample consistency / attribution sweep / Q16 ------------------


def test_ohlc_resample_always_consistent(spark):
    """On a tie-free tick key the conservation law must hold for every
    (series, day); bars reconcile with ohlc_daily_bars."""
    rows = CATALOG["ohlc_resample_consistency"].fn(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.consistent == 1 for r in rows)
    daily = {(r.event_type, r.day): r for r in
             CATALOG["ohlc_daily_bars"].fn(spark, SF_SMOKE).collect()}
    for r in rows:
        d = daily[(r.event_type, r.day)]
        assert (r.open_up, r.high_up, r.low_up, r.close_up) == (
            d.open_cents, d.high_cents, d.low_cents, d.close_cents
        )


def test_attribution_sweep_monotone_and_1h_matches(spark):
    """Wider windows never attribute fewer purchases or credits; the
    1h row reconciles with attribution_window_join's per-purchase
    output."""
    rows = sorted(
        CATALOG["attribution_window_sweep"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.win_hours,
    )
    assert [r.win_hours for r in rows] == [1, 6, 24]
    for a, b in zip(rows, rows[1:]):
        assert a.attributed_purchases <= b.attributed_purchases
        assert a.total_view_credits <= b.total_view_credits
        assert a.coverage_ppm <= b.coverage_ppm
    for r in rows:
        assert r.coverage_ppm == r.attributed_purchases * 1_000_000 // r.n_purchases
    awj = CATALOG["attribution_window_join"].fn(spark, SF_SMOKE).collect()
    assert rows[0].n_purchases == len(awj)
    assert rows[0].attributed_purchases == sum(1 for r in awj if r.n_views_1h > 0)
    assert rows[0].total_view_credits == sum(r.n_views_1h for r in awj)


def _boundary_tie_events(sf_dir) -> None:
    """11 events that sit exactly on the sweep thresholds: user 1 has
    views at lag 0, 1h, 6h, 24h and 24h + 1us before one purchase;
    user 2's consecutive gaps are exactly 15, 30, 60 and 1 minutes."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = datetime(2024, 1, 2, 12, 0)
    h = timedelta(hours=1)
    lags = [timedelta(0), h, 6 * h, 24 * h, 24 * h + timedelta(microseconds=1)]
    rows = [(1, p - lag, "view") for lag in lags] + [(1, p, "purchase")]
    t = p + 48 * h
    for gap_min in (0, 15, 30, 60, 1):
        t += timedelta(minutes=gap_min)
        rows.append((2, t, "view"))
    schema = pq.read_schema(f"{SF_SMOKE}/events.parquet").remove_metadata()
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(len(rows))),
                "ts": [r[1] for r in rows],
                "user_id": [r[0] for r in rows],
                "event_type": [r[2] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            },
            schema=schema,
        ),
        f"{sf_dir}/events.parquet",
    )


@pytest.mark.parametrize(
    "name",
    [
        "attribution_window_sweep",
        "session_gap_sweep",
        pytest.param(
            "sessionize_events",
            marks=pytest.mark.xfail(
                strict=True,
                reason="session_window merges an event exactly one gap "
                "after the previous one; the oracle's lag rule (>= gap) "
                "starts a new session: 6 sessions vs the oracle's 7",
            ),
        ),
    ],
)
def test_threshold_boundary_ties_match_oracle(spark, tmp_path, name):
    """Events exactly on a window or gap threshold fall on the oracle's
    side of it. The sf0.001 and sf0.01 fixtures have no such ties."""
    import duckdb

    from tests.oracle_util import assert_matches_oracle

    _boundary_tie_events(tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    assert_matches_oracle(
        CATALOG[name].fn(spark, str(tmp_path)), con, CATALOG[name].oracle,
        exact_floats=True,
    )


def test_q16_variety_bounds(spark):
    """Supplier counts are positive, never exceed the unflagged
    supplier universe, and flagged suppliers are absent."""
    from finance_reporting_etl_spark.tables import _read_parquet

    li = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet")
    n_unflagged = (
        li.filter("l_suppkey % 13 <> 0").select("l_suppkey").distinct().count()
    )
    rows = CATALOG["q16_supplier_variety"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.supplier_cnt <= n_unflagged
        assert r.n_lines >= r.supplier_cnt
    total_lines = sum(r.n_lines for r in rows)
    assert total_lines == li.filter("l_suppkey % 13 <> 0").count()


# --- wave 52: LSH uniformity / cutoff risk / accepted values ------------------


def test_lsh_uniformity_moments_vs_python(spark):
    """Chi-square recomputed literally from the persisted bucket
    table; eight tables, mass conserved."""
    from finance_reporting_etl_spark.oracles import _AUX_DIR

    rows = {r.tbl: r for r in
            CATALOG["lsh_bucket_uniformity"].fn(spark, SF_SMOKE).collect()}
    assert len(rows) == 8
    b = spark.read.parquet(f"{_AUX_DIR}/unif_buckets").collect()
    occ: dict = {}
    for x in b:
        occ.setdefault(x.tbl, {}).setdefault(x.bucket, 0)
        occ[x.tbl][x.bucket] += 1
    for tbl, r in rows.items():
        counts = list(occ[tbl].values())
        n = sum(counts)
        assert r.n_vecs == n
        assert r.n_buckets == len(counts)
        assert r.max_bucket == max(counts)
        chi2 = 16.0 * float(sum(c * c for c in counts)) / float(n) - float(n)
        assert r.chi2_uniform == chi2
        assert r.max_over_expected_ppm == max(counts) * 16 * 1_000_000 // n


def test_cutoff_census_reconciles(spark):
    """Line totals reconcile with lineitem; crossing share is
    floor-exact; months with orders near range end cross more."""
    from finance_reporting_etl_spark.tables import _read_parquet

    rows = CATALOG["cutoff_risk_census"].fn(spark, SF_SMOKE).collect()
    li_n = _read_parquet(spark, f"{SF_SMOKE}/lineitem.parquet").count()
    assert sum(r.n_lines for r in rows) == li_n
    for r in rows:
        assert r.same_month_lines + r.later_month_lines == r.n_lines
        assert r.crossing_ppm == r.later_month_lines * 1_000_000 // r.n_lines


def test_accepted_values_clean_fixture(spark):
    """A clean fixture has zero unexpected everywhere and the declared
    domains' distinct counts never exceed the domain size."""
    rows = {r.col_name: r for r in
            CATALOG["accepted_values_census"].fn(spark, SF_SMOKE).collect()}
    dom = {"orders.o_orderstatus": 3, "lineitem.l_returnflag": 3,
           "lineitem.l_linestatus": 2, "documents.lang": 5}
    assert set(rows) == set(dom)
    for name, r in rows.items():
        assert r.n_unexpected == 0 and r.unexpected_ppm == 0
        assert 1 <= r.n_distinct <= dom[name]


# --- wave 53: assortativity / price indices / lang confidence -----------------


def test_assortativity_vs_python(spark):
    """Moments and r re-derived literally from the persisted pair
    table; r lies in [-1, 1]."""
    from finance_reporting_etl_spark.oracles import _AUX_DIR

    r = CATALOG["copurchase_degree_assortativity"].fn(spark, SF_SMOKE).collect()[0]
    pairs = spark.read.parquet(f"{_AUX_DIR}/copurchase_pairs").select(
        "src", "dst"
    ).collect()
    deg: dict = {}
    for p in pairs:
        deg[p.src] = deg.get(p.src, 0) + 1
    M = len(pairs)
    sd = sum(deg[p.src] for p in pairs)
    sd2 = sum(deg[p.src] ** 2 for p in pairs)
    sdd = sum(deg[p.src] * deg[p.dst] for p in pairs)
    assert (r.n_edges, r.sum_d, r.sum_d2, r.sum_dudv) == (M, sd, sd2, sdd)
    want = (float(M) * float(sdd) - float(sd) * float(sd)) / (
        float(M) * float(sd2) - float(sd) * float(sd)
    )
    assert r.assortativity_r == want
    assert -1.0 <= r.assortativity_r <= 1.0


def test_price_index_identities(spark):
    """Laspeyres/Paasche are ratios of the emitted exact integers;
    Fisher is their geometric mean; all indices positive."""
    import math

    rows = CATALOG["chained_price_index_monthly"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.laspeyres_index == float(r.lasp_num) / float(r.lasp_den)
        assert r.paasche_index == float(r.paasche_num) / float(r.paasche_den)
        assert r.fisher_index == math.sqrt(
            (float(r.lasp_num) / float(r.lasp_den))
            * (float(r.paasche_num) / float(r.paasche_den))
        )
        assert r.n_common_parts > 0
        assert r.laspeyres_index > 0 and r.paasche_index > 0


def test_lang_margin_consistent_with_guess(spark):
    """margin = best - second >= 0; 'und' rows have best 0; the guess
    column matches language_id's output row-for-row."""
    rows = {r.doc_id: r for r in
            CATALOG["lang_id_confidence_margin"].fn(spark, SF_SMOKE).collect()}
    lid = {r.doc_id: r.lang_guess for r in
           CATALOG["language_id"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == set(lid)
    for did, r in rows.items():
        assert r.lang_guess == lid[did]
        assert 0 <= r.second_hits <= r.best_hits
        assert r.margin == r.best_hits - r.second_hits
        assert r.is_confident == (1 if r.margin >= 2 else 0)
        if r.lang_guess == "und":
            assert r.best_hits == 0 and r.margin == 0


# --- wave 54: watermark evidence / behavior drift -----------------------------


def test_disorder_census_mass_and_shares(spark):
    """Event mass conserved; buckets in domain; shares floor-exact;
    jittered arrivals must produce SOME disorder (bucket > 0 mass)."""
    from finance_reporting_etl_spark.tables import _read_parquet

    rows = CATALOG["watermark_disorder_census"].fn(spark, SF_SMOKE).collect()
    total = sum(r.n_events for r in rows)
    assert total == _read_parquet(spark, f"{SF_SMOKE}/events.parquet").count()
    for r in rows:
        assert 0 <= r.lateness_bucket <= 3
        assert r.share_ppm == r.n_events * 1_000_000 // total
    assert sum(r.n_events for r in rows if r.lateness_bucket > 0) > 0


def test_transition_drift_vs_python(spark):
    """TV distance re-derived literally from per-user event sequences
    split at the fixed boundary; tv in [0, 1e6]."""
    import datetime

    from finance_reporting_etl_spark.tables import _read_parquet

    ev = _read_parquet(spark, f"{SF_SMOKE}/events.parquet").select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    by_user: dict = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    mid = datetime.datetime(2024, 1, 16)
    c: dict = {}
    for u, es in by_user.items():
        es.sort(key=lambda e: (e.ts, e.event_id))
        for a, b in zip(es, es[1:]):
            half = 0 if a.ts < mid else 1
            key = (a.event_type, b.event_type)
            c.setdefault(key, [0, 0])[half] += 1
    srcs = {s for s, _ in c}
    rows = {r.src: r for r in
            CATALOG["transition_drift_by_state"].fn(spark, SF_SMOKE).collect()}
    assert set(rows) == srcs
    for s in srcs:
        cells = {d: v for (ss, d), v in c.items() if ss == s}
        n1 = sum(v[0] for v in cells.values())
        n2 = sum(v[1] for v in cells.values())
        l1 = sum(abs(v[0] * n2 - v[1] * n1) for v in cells.values())
        r = rows[s]
        assert (r.n1, r.n2, r.l1_num) == (n1, n2, l1)
        assert r.tv_ppm == l1 * 1_000_000 // (2 * n1 * n2)
        assert 0 <= r.tv_ppm <= 1_000_000


# --- wave 55: growth accounting -----------------------------------------------


def test_growth_accounting_identity_and_nrr_link(spark):
    """The bridge identity holds per week in exact cents, and the
    retained-revenue implied by the bridge reconciles with the NRR
    frame: next_week_rev (same users) = prev_rev + exp - con."""
    rows = {r.week: r for r in
            CATALOG["growth_accounting_weekly"].fn(spark, SF_SMOKE).collect()}
    assert rows
    for r in rows.values():
        assert r.delta_cents == (
            r.new_cents + r.resurrected_cents + r.expansion_cents
            - r.contraction_cents - r.churned_cents
        )
        assert min(r.new_cents, r.resurrected_cents, r.expansion_cents,
                   r.contraction_cents, r.churned_cents) >= 0
    nrr = {r.week: r for r in
           CATALOG["net_revenue_retention"].fn(spark, SF_SMOKE).collect()}
    # bridge week w decomposes the change from w-7; NRR at week w-7
    # re-measures the SAME cohort at w: cohort_rev + exp - con - churn
    import datetime

    for w, r in rows.items():
        prev = w - datetime.timedelta(days=7)
        if prev in nrr:
            n = nrr[prev]
            assert n.next_week_rev_cents == (
                n.cohort_rev_cents + r.expansion_cents
                - r.contraction_cents - r.churned_cents
            )
