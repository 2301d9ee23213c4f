"""functions/selection.py — DSIR importance weights + token-budget
curation. Both are pinned against pure-Python replicas (the repo's
LM-operator test discipline, tests/test_text_dedup.py style) and
against naive single-window Spark equivalents."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from embeddinghub_spark.functions.selection import (
    budget_select,
    doc_grams,
    dsir_weights,
    shuffle_order,
)

DOCS = [
    # (doc_id, text, lang) — en docs share a vocabulary; zz docs use a
    # disjoint one, so the hashed-bigram model separates them sharply.
    (1, "the cat sat on the mat", "en"),
    (2, "the dog sat on the log", "en"),
    (3, "qq ww ee rr tt yy", "zz"),
    (4, "ww ee qq tt rr qq", "zz"),
    (5, "the cat and the dog", "en"),
    (6, "zz xx cc vv bb nn", "zz"),
    (7, "single", "en"),
    (8, "", "en"),  # empty: no grams, no output row
]


def _py_grams(text: str) -> list[str]:
    toks = [t for t in text.split(" ") if t]
    return toks + [
        f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
    ]


def _py_bucket(gram: str, n_buckets: int, seed: int) -> int:
    h = int(hashlib.md5(f"{gram}|{seed}".encode()).hexdigest()[:15], 16)
    return h % n_buckets


def _py_dsir(docs, n_buckets=64, alpha=1.0, seed=7):
    """Pure-Python replica of dsir_weights (same rounding discipline)."""
    per_doc: dict[int, dict[int, int]] = {}
    tgt_tot: dict[int, int] = {}
    raw_tot: dict[int, int] = {}
    for doc_id, text, lang in docs:
        grams = _py_grams(text)
        if not grams:
            continue
        cnts = per_doc.setdefault(doc_id, {})
        for g in grams:
            b = _py_bucket(g, n_buckets, seed)
            cnts[b] = cnts.get(b, 0) + 1
            raw_tot[b] = raw_tot.get(b, 0) + 1
            if lang == "en":
                tgt_tot[b] = tgt_tot.get(b, 0) + 1
    T = sum(tgt_tot.values())
    R = sum(raw_tot.values())
    K = alpha * n_buckets
    out = {}
    for doc_id, cnts in per_doc.items():
        s = 0
        n = 0
        for b, c in cnts.items():
            lr = math.log((tgt_tot.get(b, 0) + alpha) / (T + K)) - math.log(
                (raw_tot.get(b, 0) + alpha) / (R + K)
            )
            # round(9dp) then 1e9-scale with half-away-from-zero — the
            # Spark F.round(x, 0) semantics (java BigDecimal HALF_UP)
            v = round(lr, 9) * 1e9
            lrs = int(math.floor(v + 0.5)) if v >= 0 else -int(
                math.floor(-v + 0.5)
            )
            s += c * lrs
            n += c
        # e9 → e6 presentation (the dedup.py _e6 discipline): round
        # s/1000 to an INTEGER (half away from zero, Spark F.round
        # semantics), then the /1e6 divide is exact — no engine ever
        # rounds a decimal half at 6 dp.
        v = s / 1000.0
        s6 = int(math.floor(v + 0.5)) if v >= 0 else -int(
            math.floor(-v + 0.5)
        )
        out[doc_id] = (n, s6 / 1e6)
    return out


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "lang"])


def test_doc_grams_unigrams_plus_bigrams(spark, docs_df):
    rows = {
        r["doc_id"]: r["g"]
        for r in docs_df.select(
            "doc_id", doc_grams("text").alias("g")
        ).collect()
    }
    assert rows[1] == _py_grams("the cat sat on the mat")
    assert rows[7] == ["single"]  # <2 tokens → unigrams only
    assert rows[8] == []


def test_dsir_weights_match_python_replica(spark, docs_df):
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_weights(
            docs_df, F.col("lang") == "en", n_buckets=64
        ).collect()
    }
    want = _py_dsir(DOCS, n_buckets=64)
    assert got == want


def test_dsir_weights_separate_in_domain(spark, docs_df):
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(
            docs_df, F.col("lang") == "en", n_buckets=64
        ).collect()
    }
    # every en doc scores above every zz doc (disjoint vocabularies)
    en = [w[i] for i in (1, 2, 5, 7)]
    zz = [w[i] for i in (3, 4, 6)]
    assert min(en) > max(zz)
    assert 8 not in w  # empty doc emits no row


def test_dsir_weights_deterministic_across_partitionings(spark, docs_df):
    a = dsir_weights(docs_df, F.col("lang") == "en", n_buckets=64)
    b = dsir_weights(
        docs_df.repartition(7), F.col("lang") == "en", n_buckets=64
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dsir_weights_rejects_bad_buckets(spark, docs_df):
    with pytest.raises(ValueError):
        dsir_weights(docs_df, F.col("lang") == "en", n_buckets=0)


# --- budget_select -------------------------------------------------------


BUDGET_ROWS = [
    # (doc_id, score, n_tokens)
    (1, 90, 40),
    (2, 80, 30),
    (3, 80, 20),  # tie on score with 2 → doc_id breaks it (2 first)
    (4, 70, 25),
    (5, 60, 10),
]


@pytest.fixture()
def budget_df(spark):
    return spark.createDataFrame(BUDGET_ROWS, ["doc_id", "score", "n_tokens"])


def test_budget_select_exact_prefix(spark, budget_df):
    # order: 1(40) 2(70) 3(90) 4(115) 5(125); budget 90 keeps 1,2,3
    out = budget_select(
        budget_df, score_col="score", cost_col="n_tokens", budget=90
    )
    got = {r["doc_id"]: r["cum_cost"] for r in out.collect()}
    assert got == {1: 40, 2: 70, 3: 90}


def test_budget_select_boundary_inclusive_then_exclusive(spark, budget_df):
    kept_89 = {
        r["doc_id"]
        for r in budget_select(
            budget_df, score_col="score", cost_col="n_tokens", budget=89
        ).collect()
    }
    assert kept_89 == {1, 2}  # 90 > 89: row 3 drops
    kept_125 = {
        r["doc_id"]
        for r in budget_select(
            budget_df, score_col="score", cost_col="n_tokens", budget=125
        ).collect()
    }
    assert kept_125 == {1, 2, 3, 4, 5}


def test_budget_select_matches_naive_window(spark, sf_dir):
    """On real data: equal to the single-partition global-window
    formulation (which we refuse to ship, but is the semantic spec)."""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.col("n_chars").alias("score"),
            F.regexp_count("text", F.lit("[^ ]+")).alias("n_tokens"),
        )
    )
    budget = 5_000
    got = {
        (r["doc_id"], r["cum_cost"])
        for r in budget_select(
            docs, score_col="score", cost_col="n_tokens", budget=budget
        ).collect()
    }
    w = (
        Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["doc_id"], r["cum"])
        for r in docs.withColumn(
            "cum", F.sum(F.col("n_tokens").cast("bigint")).over(w)
        )
        .filter(F.col("cum") <= budget)
        .collect()
    }
    assert got == want and len(got) > 0


def test_budget_select_plan_has_no_global_window(spark, budget_df):
    """The window must be keyed by _pid (range partition), never a
    single-partition global sort — the C5 scale discipline."""
    out = budget_select(
        budget_df, score_col="score", cost_col="n_tokens", budget=90
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan
    # a global window renders as "Window [...] , [score DESC" with no
    # partition spec; partitioned windows render "partitionBy" via
    # hashpartitioning(_pid...)
    assert "hashpartitioning(_pid" in plan or "hashpartitioning('_pid" in plan


def test_budget_select_raises_on_null_cost(spark):
    """NULL costs must fail fast, never ride along for free (ADVICE
    r10: SUM skips nulls, so a dirty input would silently inflate the
    kept set past the token budget)."""
    df = spark.createDataFrame(
        [(1, 90, 40), (2, 80, None), (3, 70, 20)],
        "doc_id INT, score INT, n_tokens INT",
    )
    with pytest.raises(Exception, match="contains NULL"):
        budget_select(
            df, score_col="score", cost_col="n_tokens", budget=100
        ).collect()


# --- shuffle_order --------------------------------------------------------


SHUFFLE_ROWS = [(i, f"doc-{i}") for i in range(1, 38)]  # 37 rows, 1 col key


def _py_shuffle(rows, seed, shard_size):
    """Pure-Python replica: order by md5(key|seed) asc (tie: key), then
    1-based position and shard = (position-1) // shard_size."""
    hashed = sorted(
        (hashlib.md5(f"{doc_id}|{seed}".encode()).hexdigest(), doc_id)
        for doc_id, _ in rows
    )
    return {
        doc_id: (pos + 1, pos // shard_size)
        for pos, (_, doc_id) in enumerate(hashed)
    }


@pytest.fixture()
def shuffle_df(spark):
    return spark.createDataFrame(SHUFFLE_ROWS, ["doc_id", "text"])


def test_shuffle_order_matches_md5_replica(spark, shuffle_df):
    got = {
        r["doc_id"]: (r["position"], r["shard"])
        for r in shuffle_order(
            shuffle_df, ["doc_id"], seed=42, shard_size=10
        ).collect()
    }
    assert got == _py_shuffle(SHUFFLE_ROWS, 42, 10)


def test_shuffle_order_new_seed_new_permutation(spark, shuffle_df):
    a = _py_shuffle(SHUFFLE_ROWS, 42, 10)
    got_7 = {
        r["doc_id"]: (r["position"], r["shard"])
        for r in shuffle_order(
            shuffle_df, ["doc_id"], seed=7, shard_size=10
        ).collect()
    }
    assert got_7 == _py_shuffle(SHUFFLE_ROWS, 7, 10)
    assert got_7 != a  # a different seed is a different permutation


def test_shuffle_order_repartition_invariant(spark, shuffle_df):
    base = shuffle_order(shuffle_df, ["doc_id"], seed=42, shard_size=10)
    rep = shuffle_order(
        shuffle_df.repartition(13), ["doc_id"], seed=42, shard_size=10
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, rep.collect())
    )


def test_shuffle_order_shard_boundaries_integer_div(spark, shuffle_df):
    """Positions 1..N with shard_size s: shard flips exactly at
    position s+1, 2s+1, ... (integer DIV, ADVICE r10 — double
    division could mis-assign near boundaries at extreme
    magnitudes)."""
    out = shuffle_order(
        shuffle_df, ["doc_id"], seed=42, shard_size=10
    ).collect()
    for r in out:
        assert r["shard"] == (r["position"] - 1) // 10
    positions = sorted(r["position"] for r in out)
    assert positions == list(range(1, len(SHUFFLE_ROWS) + 1))
    # contiguous shard layout: 37 rows / size 10 → shards 0,1,2 full,
    # shard 3 holds the 7-row tail
    sizes = {}
    for r in out:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert sizes == {0: 10, 1: 10, 2: 10, 3: 7}


def test_shuffle_order_rejects_bad_args(spark, shuffle_df):
    with pytest.raises(ValueError):
        shuffle_order(shuffle_df, [], seed=1)
    with pytest.raises(ValueError):
        shuffle_order(shuffle_df, ["doc_id"], shard_size=0)


# --- mixture_budgets / domain_budget_select -------------------------------


def test_mixture_budgets_largest_remainder_exact():
    from embeddinghub_spark.functions.selection import mixture_budgets

    b = mixture_budgets({"en": 0.5, "de": 0.3, "fr": 0.2}, 10)
    assert b == {"en": 5, "de": 3, "fr": 2}
    # non-terminating shares: floors + largest remainders, exact total
    b = mixture_budgets({"a": 1, "b": 1, "c": 1}, 10)
    assert sum(b.values()) == 10
    assert sorted(b.values()) == [3, 3, 4]
    assert b["a"] == 4  # tie on remainder -> alphabetical determinism
    # degenerate and error cases
    assert mixture_budgets({}, 10) == {}
    import pytest as _pt

    with _pt.raises(ValueError):
        mixture_budgets({"a": -1}, 10)
    with _pt.raises(ValueError):
        mixture_budgets({"a": 0.0}, 10)


DOMAIN_ROWS = [
    # (doc_id, domain, score, n_tokens)
    (1, "en", 90, 40),
    (2, "en", 80, 30),
    (3, "en", 70, 20),
    (4, "de", 95, 25),
    (5, "de", 60, 10),
    (6, "fr", 50, 15),  # fr absent from budgets -> dropped
]


@pytest.fixture()
def domain_df(spark):
    return spark.createDataFrame(
        DOMAIN_ROWS, ["doc_id", "domain", "score", "n_tokens"]
    )


def _py_domain_select(rows, budgets):
    out = {}
    by_dom: dict = {}
    for doc_id, dom, score, cost in rows:
        by_dom.setdefault(dom, []).append((doc_id, score, cost))
    for dom, rs in by_dom.items():
        if dom not in budgets:
            continue
        cum = 0
        for doc_id, score, cost in sorted(rs, key=lambda r: (-r[1], r[0])):
            cum += cost
            if cum <= budgets[dom]:
                out[doc_id] = cum
    return out


def test_domain_budget_select_per_domain_prefixes(spark, domain_df):
    from embeddinghub_spark.functions.selection import domain_budget_select

    budgets = {"en": 70, "de": 25}
    got = {
        r["doc_id"]: r["cum_cost"]
        for r in domain_budget_select(
            domain_df,
            domain_col="domain",
            score_col="score",
            cost_col="n_tokens",
            budgets=budgets,
        ).collect()
    }
    # en: 1(40) 2(70) 3(90>70 drop); de: 4(25) 5(35>25 drop); fr dropped
    assert got == _py_domain_select(DOMAIN_ROWS, budgets) == {1: 40, 2: 70, 4: 25}


def test_domain_budget_select_matches_naive_window(spark, sf_dir):
    """On real data: equal to the per-domain global-window formulation
    (the semantic spec we refuse to ship at scale)."""
    from embeddinghub_spark.functions.selection import (
        domain_budget_select,
        mixture_budgets,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "lang",
        F.col("n_chars").alias("score"),
        F.regexp_count("text", F.lit("[^ ]+")).alias("n_tokens"),
    )
    budgets = mixture_budgets(
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}, 8_000
    )
    got = {
        (r["doc_id"], r["cum_cost"])
        for r in domain_budget_select(
            docs,
            domain_col="lang",
            score_col="score",
            cost_col="n_tokens",
            budgets=budgets,
        ).collect()
    }
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget_expr = F.create_map(
        *[F.lit(x) for d, b in budgets.items() for x in (d, b)]
    )
    want = {
        (r["doc_id"], r["cum"])
        for r in docs.withColumn(
            "cum", F.sum(F.col("n_tokens").cast("bigint")).over(w)
        )
        .filter(F.col("cum") <= F.element_at(budget_expr, F.col("lang")))
        .collect()
    }
    assert got == want and len(got) > 0


def test_domain_budget_select_repartition_invariant(spark, domain_df):
    from embeddinghub_spark.functions.selection import domain_budget_select

    kw = dict(
        domain_col="domain", score_col="score", cost_col="n_tokens",
        budgets={"en": 70, "de": 25},
    )
    a = domain_budget_select(domain_df, **kw)
    b = domain_budget_select(domain_df.repartition(11), **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_domain_budget_select_null_cost_and_empty_budgets(spark):
    from embeddinghub_spark.functions.selection import domain_budget_select

    df = spark.createDataFrame(
        [(1, "en", 90, None)], "doc_id INT, domain STRING, score INT, n_tokens INT"
    )
    with pytest.raises(Exception, match="contains NULL"):
        domain_budget_select(
            df, domain_col="domain", score_col="score",
            cost_col="n_tokens", budgets={"en": 10},
        ).collect()
    with pytest.raises(ValueError, match="non-empty"):
        domain_budget_select(
            df, domain_col="domain", score_col="score",
            cost_col="n_tokens", budgets={},
        )


def test_domain_budget_select_plan_is_pid_partitioned(spark, domain_df):
    """The data-grain window must be keyed by (_pid, domain) — a head
    domain splits across partitions instead of collapsing to one task."""
    from embeddinghub_spark.functions.selection import domain_budget_select

    out = domain_budget_select(
        domain_df, domain_col="domain", score_col="score",
        cost_col="n_tokens", budgets={"en": 70},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(_pid" in plan or "hashpartitioning('_pid" in plan


# --- interleave_sources ----------------------------------------------------


def _py_interleave(rows, weights, seed=42, share_scale=1_000_000):
    """Pure-Python replica: per-domain md5 shuffle order + exact
    integer stride-scheduler merge (ties: domain, domain_position)."""
    from embeddinghub_spark.functions.selection import mixture_budgets

    shares = mixture_budgets(weights, share_scale)
    by_dom: dict = {}
    for key, dom in rows:
        h = hashlib.md5(f"{key}|{seed}".encode()).hexdigest()
        by_dom.setdefault(dom, []).append((h, key))
    merged = []
    for dom, lst in by_dom.items():
        s = shares.get(dom, 0)
        if s <= 0:
            continue
        for p, (_h, key) in enumerate(sorted(lst), start=1):
            merged.append(((2 * p - 1) * share_scale // s, dom, p, key))
    merged.sort()
    return {
        key: (dom, p, i + 1)
        for i, (_stride, dom, p, key) in enumerate(merged)
    }


INTERLEAVE_ROWS = [(i, "a" if i <= 40 else "b") for i in range(1, 81)]


@pytest.fixture()
def interleave_df(spark):
    return spark.createDataFrame(INTERLEAVE_ROWS, ["doc_id", "domain"])


def test_interleave_sources_matches_python_replica(spark, interleave_df):
    from embeddinghub_spark.functions.selection import interleave_sources

    weights = {"a": 3.0, "b": 1.0}
    got = {
        r["doc_id"]: (r["domain"], r["domain_position"], r["position"])
        for r in interleave_sources(
            interleave_df, ["doc_id"], domain_col="domain", weights=weights
        ).collect()
    }
    assert got == _py_interleave(INTERLEAVE_ROWS, weights)


def test_interleave_sources_accepts_input_column_local_rn(spark):
    """``_local_rn`` is not a name interleave_sources (or the prefix-sum
    core under it) injects, so an input carrying it is valid: the op
    runs, the column survives unchanged and the order is the replay's."""
    from embeddinghub_spark.functions.selection import interleave_sources

    df = spark.createDataFrame(
        [(k, d, -k) for k, d in INTERLEAVE_ROWS], ["doc_id", "domain", "_local_rn"]
    )
    weights = {"a": 3.0, "b": 1.0}
    out = interleave_sources(df, ["doc_id"], domain_col="domain", weights=weights)
    rows = out.collect()
    assert all(r["_local_rn"] == -r["doc_id"] for r in rows)
    got = {
        r["doc_id"]: (r["domain"], r["domain_position"], r["position"])
        for r in rows
    }
    assert got == _py_interleave(INTERLEAVE_ROWS, weights)


def test_interleave_sources_prefix_proportionality(spark, interleave_df):
    """Stride scheduling: every prefix of the merged stream holds each
    domain within ~1 emission of its proportional share (until a
    domain runs dry)."""
    from embeddinghub_spark.functions.selection import interleave_sources

    out = sorted(
        (r["position"], r["domain"])
        for r in interleave_sources(
            interleave_df, ["doc_id"], domain_col="domain",
            weights={"a": 3.0, "b": 1.0},
        ).collect()
    )
    counts = {"a": 0, "b": 0}
    for n, (_pos, dom) in enumerate(out, start=1):
        counts[dom] += 1
        if n <= 53:  # domain a (40 rows) runs dry past ~53 emissions
            assert abs(counts["a"] - 0.75 * n) <= 2, (n, counts)


def test_interleave_sources_repartition_invariant_and_seeded(
    spark, interleave_df
):
    from embeddinghub_spark.functions.selection import interleave_sources

    kw = dict(domain_col="domain", weights={"a": 1.0, "b": 1.0})
    a = interleave_sources(interleave_df, ["doc_id"], **kw)
    b = interleave_sources(interleave_df.repartition(9), ["doc_id"], **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = interleave_sources(interleave_df, ["doc_id"], seed=7, **kw)
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))


def test_interleave_sources_drops_unweighted_and_validates(spark, interleave_df):
    from embeddinghub_spark.functions.selection import interleave_sources

    out = interleave_sources(
        interleave_df, ["doc_id"], domain_col="domain", weights={"a": 1.0}
    )
    doms = {r["domain"] for r in out.collect()}
    assert doms == {"a"}
    with pytest.raises(ValueError, match="non-empty"):
        interleave_sources(
            interleave_df, [], domain_col="domain", weights={"a": 1.0}
        )
    with pytest.raises(ValueError, match="zero shares"):
        interleave_sources(
            interleave_df, ["doc_id"], domain_col="domain", weights={}
        )


def test_per_domain_c5_ops_under_head_domain_skew(spark):
    """The scale story's stress case: ONE domain holds ~95% of rows and
    must SPLIT across range partitions (the naive PARTITION BY domain
    window would put it on one task). Both per-domain C5 operators stay
    exact vs their naive-window spec under forced multi-partition
    splits of the head domain."""
    from embeddinghub_spark.functions.selection import (
        domain_budget_select,
        interleave_sources,
    )

    rows = [(i, "head", i % 97, 5) for i in range(1, 951)] + [
        (i, "tail", i % 13, 5) for i in range(951, 1001)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "domain", "score", "n_tokens"]
    ).repartition(3)

    sel = domain_budget_select(
        df, domain_col="domain", score_col="score", cost_col="n_tokens",
        budgets={"head": 2_000, "tail": 100}, num_partitions=16,
    )
    got = {(r["doc_id"], r["cum_cost"]) for r in sel.collect()}
    w = (
        Window.partitionBy("domain")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.when(F.col("domain") == "head", 2_000).otherwise(100)
    want = {
        (r["doc_id"], r["cum"])
        for r in df.withColumn(
            "cum", F.sum(F.col("n_tokens").cast("bigint")).over(w)
        ).filter(F.col("cum") <= budget).collect()
    }
    assert got == want and len(got) == 420  # 400 head + 20 tail

    inter = interleave_sources(
        df.select("doc_id", "domain"), ["doc_id"],
        domain_col="domain", weights={"head": 0.9, "tail": 0.1},
        num_partitions=16,
    )
    got_i = {
        r["doc_id"]: (r["domain"], r["domain_position"], r["position"])
        for r in inter.collect()
    }
    want_i = _py_interleave(
        [(r[0], r[1]) for r in rows], {"head": 0.9, "tail": 0.1}
    )
    assert got_i == want_i


# --- ADVICE r11 pins -------------------------------------------------------


def test_mixture_budgets_exact_rational_apportionment():
    """ADVICE r11: float shares (w/tot*budget) can flip the
    largest-remainder ranking by one token at near-tie boundaries.
    This weight set is a measured counterexample — binary float
    arithmetic apportions {a:1, b:4, c:5}; the exact rational
    apportionment over the weights' own binary values is {a:0, b:4,
    c:6}. Pinned against an independent Fraction replica."""
    from fractions import Fraction

    from embeddinghub_spark.functions.selection import mixture_budgets

    weights, budget = {"a": 0.05, "b": 0.3, "c": 0.45}, 10
    got = mixture_budgets(weights, budget)

    exact = {d: Fraction(w) for d, w in weights.items()}
    tot = sum(exact.values())
    shares = {d: w / tot * budget for d, w in exact.items()}
    want = {d: int(s) for d, s in shares.items()}
    for d in sorted(
        weights, key=lambda d: (-(shares[d] - want[d]), str(d))
    )[: budget - sum(want.values())]:
        want[d] += 1

    assert got == want == {"a": 0, "b": 4, "c": 6}
    assert sum(got.values()) == budget
    # the float path's wrong answer, for contrast with the docstring
    f_shares = {d: w / 0.8 * budget for d, w in weights.items()}
    assert {d: int(s) for d, s in f_shares.items()}["a"] == 0  # sanity


def test_selection_ops_reject_reserved_column_collisions(spark):
    """ADVICE r11: withColumn silently REPLACES a same-named input
    column — an input that already carries 'position' / 'cum_cost' /
    a '_'-helper would be clobbered without error. Every selection
    operator now validates and raises instead."""
    from embeddinghub_spark.functions.selection import (
        domain_budget_select,
        interleave_sources,
    )

    base = spark.createDataFrame(
        [(1, "a", 5, 3)], ["doc_id", "domain", "score", "n_tokens"]
    )
    with pytest.raises(ValueError, match="budget_select.*cum_cost"):
        budget_select(
            base.withColumn("cum_cost", F.lit(0)),
            score_col="score", cost_col="n_tokens", budget=10,
        )
    with pytest.raises(ValueError, match="domain_budget_select.*_pid"):
        domain_budget_select(
            base.withColumn("_pid", F.lit(0)),
            domain_col="domain", score_col="score", cost_col="n_tokens",
            budgets={"a": 10},
        )
    with pytest.raises(ValueError, match="interleave_sources.*position"):
        interleave_sources(
            base.withColumn("position", F.lit(0)), ["doc_id"],
            domain_col="domain", weights={"a": 1.0},
        )
    with pytest.raises(ValueError, match="shuffle_order.*shard"):
        shuffle_order(base.withColumn("shard", F.lit(0)), ["doc_id"])
    with pytest.raises(ValueError, match="dsir_weights.*id_col"):
        dsir_weights(
            base.withColumnRenamed("doc_id", "log_weight"),
            F.col("domain") == "a", id_col="log_weight",
            text_col="domain",
        )


def test_interleave_oracle_drops_unweighted_domains(spark):
    """ADVICE r11: the interleave_sources DuckDB oracle must drop
    domains absent from the mixture exactly like the framework does
    (NULL stride rows were previously emitted NULLS-LAST). Replayed on
    a synthetic documents table that CONTAINS an unweighted lang —
    the case sf0.01/sf0.1 data never exercises."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    rows = [(i, ["en", "de", "es", "fr", "zh", "xx"][i % 6]) for i in range(1, 61)]
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "lang"])
    )
    want = {
        (r[0], r[1], r[2], r[3])
        for r in con.execute(entry._interleave_sources_oracle()).fetchall()
    }
    from embeddinghub_spark.functions.selection import interleave_sources

    got = {
        (r["doc_id"], r["lang"], r["domain_position"], r["position"])
        for r in interleave_sources(
            spark.createDataFrame(rows, ["doc_id", "lang"]),
            ["doc_id"], domain_col="lang", weights=entry._DOMAIN_MIX,
            seed=42,
        ).collect()
    }
    assert got == want
    assert not any(lang == "xx" for _, lang, _p, _q in got)


# ---------------------------------------------------------------- r12 staged:
# epoch_interleave — multi-epoch, epoch-capped mixture streaming


def _py_epoch_interleave(rows, weights, total_rows, max_epochs, seed=42):
    """Pure-Python replica: per-(domain, epoch) md5(key|seed|epoch)
    permutations, K_d = min(quota_d, max_epochs·n_d), exact integer
    stride merge keyed (2·slot−1)·total_rows DIV quota_d."""
    from embeddinghub_spark.functions.selection import mixture_budgets

    quotas = {
        d: q for d, q in mixture_budgets(weights, total_rows).items() if q > 0
    }
    by_dom: dict = {}
    for key, dom in rows:
        if dom in quotas:
            by_dom.setdefault(dom, []).append(key)
    merged = []
    for dom, keys in by_dom.items():
        q, nd = quotas[dom], len(keys)
        kd = min(q, max_epochs * nd)
        for e in range((kd - 1) // nd + 1):
            perm = sorted(
                keys,
                key=lambda k: (
                    hashlib.md5(f"{k}|{seed}|{e}".encode()).hexdigest(),
                    k,
                ),
            )
            for p, key in enumerate(perm, start=1):
                slot = e * nd + p
                if slot > kd:
                    break
                merged.append(
                    ((2 * slot - 1) * total_rows // q, dom, slot, key, e, p)
                )
    merged.sort()
    return [
        (key, dom, e, p, slot, i + 1)
        for i, (_k, dom, slot, key, e, p) in enumerate(merged)
    ]


def test_epoch_interleave_matches_python_replica(spark, interleave_df):
    from embeddinghub_spark.functions.selection import epoch_interleave

    weights = {"a": 3.0, "b": 1.0}
    out = epoch_interleave(
        interleave_df, ["doc_id"], domain_col="domain", weights=weights,
        total_rows=200, max_epochs=3,
    )
    got = sorted(
        (r["doc_id"], r["domain"], r["epoch"], r["domain_position"],
         r["slot"], r["position"])
        for r in out.collect()
    )
    exp = sorted(_py_epoch_interleave(INTERLEAVE_ROWS, weights, 200, 3))
    assert got == exp


def test_epoch_interleave_epoch_cap_and_reshuffle(spark, interleave_df):
    """K_d = min(quota_d, max_epochs·n_d) exactly, and each epoch is a
    FRESH permutation (per-epoch reshuffle), not a repeat of epoch 0."""
    from embeddinghub_spark.functions.selection import epoch_interleave

    # quota 500/500 >> corpus (40 per domain) → both cap at 2 epochs
    out = epoch_interleave(
        interleave_df, ["doc_id"], domain_col="domain",
        weights={"a": 1.0, "b": 1.0}, total_rows=1000, max_epochs=2,
    ).collect()
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    for dom, rows in by_dom.items():
        assert len(rows) == 2 * 40, dom  # capped, not quota (500)
        e0 = [r["doc_id"] for r in sorted(rows, key=lambda r: r["slot"])
              if r["epoch"] == 0]
        e1 = [r["doc_id"] for r in sorted(rows, key=lambda r: r["slot"])
              if r["epoch"] == 1]
        assert sorted(e0) == sorted(e1)  # same docs every full epoch
        assert e0 != e1  # ...in a different order


def test_epoch_interleave_partial_epoch_is_permutation_prefix(spark,
                                                              interleave_df):
    """The final partial epoch takes a PREFIX of that epoch's own md5
    permutation (the trainer-resume contract)."""
    from embeddinghub_spark.functions.selection import epoch_interleave

    out = [
        r
        for r in epoch_interleave(
            interleave_df, ["doc_id"], domain_col="domain",
            weights={"a": 1.0}, total_rows=55, max_epochs=4,
        ).collect()
    ]
    last = [r for r in out if r["epoch"] == 1]
    assert len(last) == 15  # 55 - 40
    a_keys = [k for k, d in INTERLEAVE_ROWS if d == "a"]
    perm1 = sorted(
        a_keys,
        key=lambda k: (hashlib.md5(f"{k}|42|1".encode()).hexdigest(), k),
    )
    got = [r["doc_id"] for r in sorted(last, key=lambda r: r["slot"])]
    assert got == perm1[:15]


def test_epoch_interleave_prefix_proportionality(spark, interleave_df):
    from embeddinghub_spark.functions.selection import epoch_interleave

    out = sorted(
        (r["position"], r["domain"])
        for r in epoch_interleave(
            interleave_df, ["doc_id"], domain_col="domain",
            weights={"a": 3.0, "b": 1.0}, total_rows=160, max_epochs=4,
        ).collect()
    )
    assert len(out) == 160  # no cap binds: 120 ≤ 160, 40 ≤ 160
    counts = {"a": 0, "b": 0}
    for n, (_pos, dom) in enumerate(out, start=1):
        counts[dom] += 1
        assert abs(counts["a"] - 0.75 * n) <= 2, (n, counts)


def test_epoch_interleave_repartition_invariant_and_contracts(
    spark, interleave_df
):
    from embeddinghub_spark.functions.selection import epoch_interleave

    kw = dict(domain_col="domain", weights={"a": 1.0, "b": 2.0},
              total_rows=90, max_epochs=2)
    a = epoch_interleave(interleave_df, ["doc_id"], **kw)
    b = epoch_interleave(interleave_df.repartition(9), ["doc_id"], **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = epoch_interleave(interleave_df, ["doc_id"], seed=7, **kw)
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))
    with pytest.raises(ValueError, match="non-empty"):
        epoch_interleave(interleave_df, [], **kw)
    with pytest.raises(ValueError, match="max_epochs"):
        epoch_interleave(
            interleave_df, ["doc_id"], domain_col="domain",
            weights={"a": 1.0}, total_rows=10, max_epochs=0,
        )
    with pytest.raises(ValueError, match="zero rows"):
        epoch_interleave(
            interleave_df, ["doc_id"], domain_col="domain", weights={},
            total_rows=10,
        )
    with pytest.raises(ValueError, match="reserved"):
        epoch_interleave(
            interleave_df.withColumn("epoch", F.lit(1)), ["doc_id"], **kw
        )


# ---------------------------------------------------------------- r12 staged:
# length_buckets — pad-efficient frozen batch formation


LENGTH_ROWS = [(f"d{i:03d}", (i * 37) % 300) for i in range(60)]


def _py_length_buckets(rows, bounds, batch_size, seed=42):
    def bkt(n):
        for i, b in enumerate(bounds):
            if n <= b:
                return i
        return len(bounds)

    byb: dict = {}
    for d, n in rows:
        byb.setdefault(bkt(n), []).append((d, n))
    out = []
    for b, ds in byb.items():
        perm = sorted(
            ds,
            key=lambda x: (hashlib.md5(f"{x[0]}|{seed}".encode()).hexdigest(),
                           x[0]),
        )
        for p, (d, n) in enumerate(perm, start=1):
            pl = bounds[b] if b < len(bounds) else None
            out.append(
                (d, b, p, (p - 1) // batch_size, (p - 1) % batch_size, pl,
                 (pl - n) if pl is not None else None)
            )
    return sorted(out)


@pytest.fixture()
def length_df(spark):
    return spark.createDataFrame(LENGTH_ROWS, ["doc_id", "n_tokens"])


def test_length_buckets_matches_python_replica(spark, length_df):
    from embeddinghub_spark.functions.selection import length_buckets

    bounds = [32, 64, 128, 256]
    out = length_buckets(
        length_df, n_tokens_col="n_tokens", batch_size=4, boundaries=bounds,
        key_cols=["doc_id"],
    )
    got = sorted(
        (r["doc_id"], r["bucket_id"], r["bucket_position"], r["batch_id"],
         r["batch_slot"], r["padded_len"], r["pad_waste"])
        for r in out.collect()
    )
    assert got == _py_length_buckets(LENGTH_ROWS, bounds, 4)


def test_length_buckets_batches_tile_and_overflow(spark, length_df):
    """Every batch but the last per bucket holds exactly batch_size
    rows; overflow docs (> last boundary) carry NULL padded_len."""
    from embeddinghub_spark.functions.selection import length_buckets

    bounds = [64, 128]
    rows = length_buckets(
        length_df, n_tokens_col="n_tokens", batch_size=5, boundaries=bounds,
        key_cols=["doc_id"],
    ).collect()
    byb: dict = {}
    for r in rows:
        byb.setdefault((r["bucket_id"], r["batch_id"]), []).append(r)
    bucket_max_batch = {}
    for (b, bid), rs in byb.items():
        bucket_max_batch[b] = max(bucket_max_batch.get(b, -1), bid)
        assert sorted(r["batch_slot"] for r in rs) == list(range(len(rs)))
    for (b, bid), rs in byb.items():
        if bid < bucket_max_batch[b]:
            assert len(rs) == 5, (b, bid)
    overflow = [r for r in rows if r["bucket_id"] == len(bounds)]
    assert overflow and all(
        r["padded_len"] is None and r["pad_waste"] is None for r in overflow
    )
    assert all(
        r["padded_len"] is not None and r["pad_waste"] >= 0
        for r in rows
        if r["bucket_id"] < len(bounds)
    )


def test_length_buckets_repartition_invariant_and_contracts(spark, length_df):
    from embeddinghub_spark.functions.selection import length_buckets

    kw = dict(n_tokens_col="n_tokens", batch_size=3,
              boundaries=[64, 256], key_cols=["doc_id"])
    a = length_buckets(length_df, **kw)
    b = length_buckets(length_df.repartition(11), **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    with pytest.raises(ValueError, match="batch_size"):
        length_buckets(length_df, n_tokens_col="n_tokens", batch_size=0)
    with pytest.raises(ValueError, match="strictly increasing"):
        length_buckets(
            length_df, n_tokens_col="n_tokens", batch_size=2,
            boundaries=[64, 64],
        )
    with pytest.raises(ValueError, match="reserved"):
        length_buckets(
            length_df.withColumn("batch_id", F.lit(1)),
            n_tokens_col="n_tokens", batch_size=2,
        )
    nulls = spark.createDataFrame(
        [("a", 5), ("b", None)], "doc_id string, n_tokens int"
    )
    with pytest.raises(Exception, match="contains NULL"):
        length_buckets(
            nulls, n_tokens_col="n_tokens", batch_size=2
        ).collect()


# ---------------------------------------------------------------- r12 staged:
# training_stream — the end-to-end curate → mix → pack composition


TS_DOCS = [
    # (doc_id, lang, score, n_tokens) — pre-scored corpus
    (i, lang, (i * 17) % 100, 5 + (i * 7) % 40)
    for i, lang in ((j, ["a", "b", "c"][j % 3]) for j in range(1, 61))
]


@pytest.fixture()
def ts_df(spark):
    return spark.createDataFrame(
        TS_DOCS, ["doc_id", "lang", "score", "n_tokens"]
    )


def _ts_out(ts_df, **over):
    from embeddinghub_spark.functions.selection import training_stream

    kw = dict(
        id_col="doc_id", domain_col="lang", score_col="score",
        cost_col="n_tokens", weights={"a": 2.0, "b": 1.0},
        total_budget=300, max_seq_len=64, seed=42,
    )
    kw.update(over)
    return training_stream(ts_df, **kw)


def test_training_stream_slices_tile_documents_and_sequences(spark, ts_df):
    """Composition invariants: per kept doc the slices tile
    [0, n_tokens) exactly; per sequence (except the last) the slices
    tile [0, max_seq_len); domain 'c' (unweighted) is dropped."""
    rows = _ts_out(ts_df).collect()
    assert rows and all(r["lang"] in ("a", "b") for r in rows)
    bydoc: dict = {}
    byseq: dict = {}
    for r in rows:
        bydoc.setdefault(r["doc_id"], []).append(r)
        byseq.setdefault(r["seq_id"], []).append(r)
    for d, rs in bydoc.items():
        rs = sorted(rs, key=lambda r: r["doc_offset"])
        assert rs[0]["doc_offset"] == 0
        for a, b in zip(rs, rs[1:]):
            assert a["doc_offset"] + a["slice_len"] == b["doc_offset"]
        assert rs[-1]["doc_offset"] + rs[-1]["slice_len"] == rs[0]["n_tokens"]
    last_seq = max(byseq)
    for s, rs in byseq.items():
        rs = sorted(rs, key=lambda r: r["seq_offset"])
        assert rs[0]["seq_offset"] == 0
        for a, b in zip(rs, rs[1:]):
            assert a["seq_offset"] + a["slice_len"] == b["seq_offset"]
        if s != last_seq:
            assert rs[-1]["seq_offset"] + rs[-1]["slice_len"] == 64, s


def test_training_stream_keeps_exactly_the_budgeted_set(spark, ts_df):
    """Stage consistency: the docs in the packed stream are EXACTLY
    domain_budget_select's kept set for the same budgets."""
    from embeddinghub_spark.functions.selection import (
        domain_budget_select,
        mixture_budgets,
    )

    weights = {"a": 2.0, "b": 1.0}
    kept = {
        r["doc_id"]
        for r in domain_budget_select(
            ts_df, domain_col="lang", score_col="score",
            cost_col="n_tokens",
            budgets=mixture_budgets(weights, 300),
        ).collect()
    }
    packed = {r["doc_id"] for r in _ts_out(ts_df).collect()}
    assert packed == kept


def test_training_stream_repartition_invariant(spark, ts_df):
    a = sorted(map(tuple, _ts_out(ts_df).collect()))
    b = sorted(map(tuple, _ts_out(ts_df.repartition(13)).collect()))
    assert a == b


def test_training_stream_positions_follow_interleave(spark, ts_df):
    """The packed stream's position column IS interleave_sources'
    merged rank over the kept set (one row per kept doc, contiguous
    from 1)."""
    rows = _ts_out(ts_df).collect()
    pos = sorted({(r["doc_id"], r["position"]) for r in rows},
                 key=lambda t: t[1])
    assert [p for _d, p in pos] == list(range(1, len(pos) + 1))


# ---------------------------------------------------------------- r12 staged:
# mixture_report — per-slice realized-vs-target mixture audit


def test_mixture_report_matches_python_replica(spark, interleave_df):
    from embeddinghub_spark.functions.selection import (
        interleave_sources,
        mixture_budgets,
        mixture_report,
    )

    weights = {"a": 3.0, "b": 1.0}
    stream = interleave_sources(
        interleave_df, ["doc_id"], domain_col="domain", weights=weights
    )
    got = sorted(
        (r["slice_id"], r["domain"], r["n_rows"], r["realized_ppm"],
         r["target_ppm"], r["deviation_ppm"])
        for r in mixture_report(
            stream, domain_col="domain", weights=weights, n_slices=4
        ).collect()
    )
    rows = sorted(
        (r["position"], r["domain"]) for r in stream.collect()
    )
    N = len(rows)
    targets = mixture_budgets(weights, 1_000_000)
    from collections import Counter

    cnt: Counter = Counter()
    for pos, dom in rows:
        cnt[((pos - 1) * 4 // N, dom)] += 1
    slice_tot: Counter = Counter()
    for (s, _d), n in cnt.items():
        slice_tot[s] += n
    exp = sorted(
        (s, d, n, n * 1_000_000 // slice_tot[s], targets.get(d, 0),
         abs(n * 1_000_000 // slice_tot[s] - targets.get(d, 0)))
        for (s, d), n in cnt.items()
    )
    assert got == exp


def test_mixture_report_flags_unweighted_and_validates(spark, interleave_df):
    """A domain in the stream but not in weights reports target 0 —
    its realized share IS the deviation; every early slice of a
    stride-scheduled stream sits within one emission of target."""
    from embeddinghub_spark.functions.selection import (
        interleave_sources,
        mixture_report,
    )

    stream = interleave_sources(
        interleave_df, ["doc_id"], domain_col="domain",
        weights={"a": 3.0, "b": 1.0},
    )
    rows = mixture_report(
        stream, domain_col="domain", weights={"a": 3.0}, n_slices=2
    ).collect()
    b_rows = [r for r in rows if r["domain"] == "b"]
    assert b_rows and all(
        r["target_ppm"] == 0 and r["deviation_ppm"] == r["realized_ppm"]
        for r in b_rows
    )
    with pytest.raises(ValueError, match="n_slices"):
        mixture_report(
            stream, domain_col="domain", weights={"a": 1.0}, n_slices=0
        )
    with pytest.raises(ValueError, match="reserved"):
        mixture_report(
            stream.withColumn("slice_id", F.lit(1)),
            domain_col="domain", weights={"a": 1.0},
        )
    # proportionality: first slice of the 4-slice report holds a's
    # share within 5% of 750000 ppm (stride scheduler, 20-row slices)
    full = mixture_report(
        stream, domain_col="domain", weights={"a": 3.0, "b": 1.0},
        n_slices=4,
    ).collect()
    first_a = [r for r in full if r["slice_id"] == 0 and r["domain"] == "a"]
    assert first_a and abs(first_a[0]["realized_ppm"] - 750_000) <= 50_000


def test_training_stream_rejects_ambiguous_n_tokens(spark, ts_df):
    from embeddinghub_spark.functions.selection import training_stream

    bad = ts_df.withColumnRenamed("n_tokens", "cost").withColumn(
        "n_tokens", F.lit(1)
    )
    with pytest.raises(ValueError, match="n_tokens"):
        training_stream(
            bad, id_col="doc_id", domain_col="lang", score_col="score",
            cost_col="cost", weights={"a": 1.0}, total_budget=100,
            max_seq_len=64,
        )


def test_training_stream_forwards_custom_id_col(spark):
    """Review find: the budgeter's (score DESC, id ASC) tiebreak must
    use the CALLER's id column, and a frame with no 'doc_id' column
    at all must work."""
    from embeddinghub_spark.functions.selection import training_stream

    df = spark.createDataFrame(
        [(f"e{i}", ["a", "b"][i % 2], (i * 17) % 100, 5 + (i * 7) % 40)
         for i in range(1, 31)],
        ["example_id", "lang", "score", "n_tokens"],
    )
    out = training_stream(
        df, id_col="example_id", domain_col="lang", score_col="score",
        cost_col="n_tokens", weights={"a": 2.0, "b": 1.0},
        total_budget=200, max_seq_len=64,
    ).collect()
    assert out and all(r["example_id"].startswith("e") for r in out)


def test_length_buckets_rejects_negative_tokens(spark):
    from embeddinghub_spark.functions.selection import length_buckets

    bad = spark.createDataFrame(
        [("a", 5), ("b", -3)], "doc_id string, n_tokens int"
    )
    with pytest.raises(Exception, match="NULL or negative"):
        length_buckets(bad, n_tokens_col="n_tokens", batch_size=2).collect()


# ---------------------------------------------------------------- r13 staged:
# pack_bins — best-fit packing without cross-document concatenation


def _py_pack_bins(rows, bounds, capacity, seed=42):
    packable, overflow = [], []
    for d, n in rows:
        p = next((b for b in bounds if n <= b), None)
        (overflow if p is None else packable).append((d, n, p))
    packable.sort(
        key=lambda t: (
            -t[2],
            hashlib.md5(f"{t[0]}|{seed}".encode()).hexdigest(),
            t[0],
        )
    )
    out, cum = [], 0
    for d, n, p in packable:
        out.append((d, n, p, cum // capacity, cum % capacity, p - n))
        cum += p
    out += [(d, n, None, None, None, None) for d, n, _ in overflow]
    return sorted(out, key=str)


def test_pack_bins_matches_python_replica(spark, length_df):
    from embeddinghub_spark.functions.selection import pack_bins

    bounds = [32, 64, 128, 256]
    out = pack_bins(
        length_df, n_tokens_col="n_tokens", capacity=512,
        boundaries=bounds, key_cols=["doc_id"],
    )
    got = sorted(
        ((r["doc_id"], r["n_tokens"], r["padded_len"], r["bin_id"],
          r["bin_offset"], r["pad_waste"]) for r in out.collect()),
        key=str,
    )
    assert got == _py_pack_bins(LENGTH_ROWS, bounds, 512)


def test_pack_bins_optimal_fill_and_no_straddle(spark, length_df):
    """The divisibility-chain guarantee: no item crosses a capacity
    boundary, every bin except the last is filled to EXACTLY capacity
    padded tokens, and the bin count is the optimum for the padded
    multiset, ceil(total_padded / capacity)."""
    from embeddinghub_spark.functions.selection import pack_bins

    cap = 256
    rows = pack_bins(
        length_df, n_tokens_col="n_tokens", capacity=cap,
        boundaries=[16, 32, 64, 128, 256], key_cols=["doc_id"],
    ).collect()
    packed = [r for r in rows if r["bin_id"] is not None]
    assert packed
    for r in packed:
        assert r["bin_offset"] + r["padded_len"] <= cap, r
    fills: dict = {}
    for r in packed:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["padded_len"]
    last = max(fills)
    assert all(v == cap for b, v in fills.items() if b != last)
    total = sum(r["padded_len"] for r in packed)
    assert len(fills) == -(-total // cap)  # optimal bin count
    # packing-efficiency pin vs the concat baseline (pack_sequences
    # semantics = zero padding): the only overhead is quantization
    # padding, bounded per row by the bucket rule (padded < 2*n for
    # n > smallest boundary), never bin fragmentation
    total_tok = sum(r["n_tokens"] for r in packed)
    assert all(
        r["padded_len"] <= max(16, 2 * r["n_tokens"]) for r in packed
    )
    assert (len(fills) * cap) < 2 * total_tok + cap


def test_pack_bins_repartition_invariant_and_contracts(spark, length_df):
    from embeddinghub_spark.functions.selection import pack_bins

    kw = dict(n_tokens_col="n_tokens", capacity=512,
              boundaries=[64, 128, 256], key_cols=["doc_id"])
    a = pack_bins(length_df, **kw)
    b = pack_bins(length_df.repartition(11), **kw)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
    with pytest.raises(ValueError, match="capacity"):
        pack_bins(length_df, n_tokens_col="n_tokens", capacity=0)
    with pytest.raises(ValueError, match="divisibility"):
        pack_bins(length_df, n_tokens_col="n_tokens", capacity=512,
                  boundaries=[16, 24])
    with pytest.raises(ValueError, match="divide capacity"):
        pack_bins(length_df, n_tokens_col="n_tokens", capacity=300,
                  boundaries=[16, 32, 64, 128, 256])
    with pytest.raises(ValueError, match="reserve|reserved"):
        pack_bins(length_df.withColumn("bin_id", F.lit(1)),
                  n_tokens_col="n_tokens", capacity=512)
    nulls = spark.createDataFrame(
        [("a", 5), ("b", None)], "doc_id string, n_tokens int"
    )
    with pytest.raises(Exception, match="contains NULL"):
        pack_bins(nulls, n_tokens_col="n_tokens", capacity=512).collect()
    # overflow past the last boundary: all packing columns NULL
    big = spark.createDataFrame(
        [("a", 10), ("b", 999)], "doc_id string, n_tokens int"
    )
    got = {r["doc_id"]: r for r in pack_bins(
        big, n_tokens_col="n_tokens", capacity=256,
        boundaries=[16, 32, 64, 128, 256],
    ).collect()}
    assert got["b"]["padded_len"] is None and got["b"]["bin_id"] is None
    assert got["a"]["padded_len"] == 16 and got["a"]["bin_id"] == 0


def test_pack_bins_default_boundaries_fit_any_capacity(spark, length_df):
    """Review find r13: growing default boundaries UP from 16 violated
    the last-divides-capacity rule for any non-power-of-two capacity.
    Defaults now halve DOWN from capacity, so the chain always divides
    it by construction."""
    from embeddinghub_spark.functions.selection import pack_bins

    rows = pack_bins(
        length_df, n_tokens_col="n_tokens", capacity=1000,
        key_cols=["doc_id"],
    ).collect()
    packed = [r for r in rows if r["bin_id"] is not None]
    assert packed
    # chain: 125, 250, 500, 1000 — every padded size divides 1000
    assert {r["padded_len"] for r in packed} <= {125, 250, 500, 1000}
    for r in packed:
        assert r["bin_offset"] + r["padded_len"] <= 1000
    # odd capacity: the chain degenerates to [capacity] and still works
    odd = pack_bins(
        length_df, n_tokens_col="n_tokens", capacity=333,
        key_cols=["doc_id"],
    ).collect()
    assert all(
        r["padded_len"] in (None, 333) for r in odd
    )
