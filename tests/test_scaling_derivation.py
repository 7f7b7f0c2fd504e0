"""Scale-derived LSH/IVF parameters (VERDICT r5 #1).

The round-5 probe measured the two fixed-parameter dedup queries as
constant-divisor quadratics (SCALE_PROBE_r05.md findings #1–2); round 6
re-registered them to derive (bands, rows_per_band) / n_bits from the
corpus size. These tests pin the three contracts that make that safe:

1. at every harness SF (≤ 2000 vectors) the derivation returns EXACTLY
   the base config, so the bit-unrolled static SQL oracles remain the
   derived config wherever the driver evaluates them;
2. past the base size the parameters grow the way the probe measured
   (r with log2 n, B re-solved, bits with log2 n) and the OR-amplified
   per-pair recall bound is held;
3. the registered queries' optimized plans at harness scale are
   byte-identical to an explicit base-config call — the re-registration
   changed fleet-scale behavior only.
"""

from __future__ import annotations

import math
import re

from cqdg_etl_spark.operators import similarity

BASE = (8, 4)

# Session-varying plan tokens: expression and plan ids, the stage and
# codegen ids of cached subtrees, object addresses.
_PLAN_IDS = [
    (re.compile(r"#\d+"), "#x"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"QueryStage \d+"), "QueryStage x"),
    (re.compile(r"\*\(\d+\)"), "*(x)"),
    (re.compile(r"0x[0-9a-f]+"), "0xX"),
]
_LAMBDA = re.compile(r"\blambda ([A-Za-z0-9_]+?)_(\d+)\b")


def _normalize_plan(plan: str) -> str:
    """Plan text with session-varying ids normalized out. Catalyst
    numbers lambda variables from a session-global counter, so they are
    renumbered per plan in first-occurrence order, keeping the base name
    (distinct variables in one expression stay distinct)."""
    seen: dict[tuple[str, str], int] = {}
    counts: dict[str, int] = {}

    def renumber(m):
        key = (m.group(1), m.group(2))
        if key not in seen:
            seen[key] = counts.get(m.group(1), 0)
            counts[m.group(1)] = seen[key] + 1
        return f"lambda {m.group(1)}_{seen[key]}"

    plan = _LAMBDA.sub(renumber, plan)
    for rx, repl in _PLAN_IDS:
        plan = rx.sub(repl, plan)
    return plan


def test_derive_banding_base_config_at_harness_sizes():
    for n in (1, 20, 500, 1999, 2000):
        assert similarity.derive_banding(n) == BASE


def test_derive_cell_bits_base_at_harness_sizes():
    for n in (1, 20, 500, 2000):
        assert similarity.derive_cell_bits(n) == 4


def test_derive_banding_growth_and_recall_held():
    p1 = 1.0 - math.acos(0.4) / math.pi
    base_recall = 1.0 - (1.0 - p1 ** 4) ** 8
    prev_r = 0
    for n in (2001, 4000, 20_000, 200_000, 2_000_000, 2 * 10**9):
        bands, r = similarity.derive_banding(n)
        assert r >= prev_r
        prev_r = r
        # rows_per_band tracks log2(n / n0)
        assert r == 4 + math.ceil(math.log2(n / 2000.0))
        # OR-amplified per-pair recall at the threshold is held
        recall = 1.0 - (1.0 - p1 ** r) ** bands
        assert recall >= base_recall - 1e-9
        # ...and B is minimal (one fewer band would break the bound)
        if bands > 1:
            assert 1.0 - (1.0 - p1 ** r) ** (bands - 1) < base_recall


def test_derive_cell_bits_keeps_cell_size_constant():
    for n in (2001, 4000, 20_000, 200_000):
        bits = similarity.derive_cell_bits(n)
        assert bits == 4 + math.ceil(math.log2(n / 2000.0))
        # expected cell size stays within [n0/2, n0]
        assert 2000.0 / 2 <= n / 2 ** (bits - 4) / 16 * 16 <= 2 * 2000.0


def test_registered_queries_unchanged_at_harness_scale(spark, sf_dir):
    """The derived config at ≤2000 vectors IS the base config: the
    registered queries' optimized plans must be byte-identical to an
    explicit base-config call (after expression-id normalization)."""
    from cqdg_etl_spark.queries.registry import REGISTRY, load

    def norm(df):
        return _normalize_plan(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    emb = load(spark, sf_dir, "embeddings")

    reg = REGISTRY["dd_embedding_cosine_pairs"].fn(spark, sf_dir)
    fixed = similarity.banded_cosine_dup_pairs(
        emb, threshold=0.4, bands=8, rows_per_band=4
    )
    assert norm(reg) == norm(fixed)

    reg2 = REGISTRY["dd_semantic_prune"].fn(spark, sf_dir)
    fixed2 = similarity.semantic_dedup(emb, threshold=0.4, n_bits=4)
    assert norm(reg2) == norm(fixed2)


# --------------------------------------------------- property tests

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    @given(n=st.integers(min_value=1, max_value=10**12))
    @settings(max_examples=200, deadline=None)
    def test_derive_banding_recall_bound_everywhere(n):
        """For EVERY corpus size: per-pair recall at the threshold is
        >= the base config's, B is minimal for that bound, and at
        n <= n0 the result is exactly the base config."""
        p1 = 1.0 - math.acos(0.4) / math.pi
        base_recall = 1.0 - (1.0 - p1 ** 4) ** 8
        bands, r = similarity.derive_banding(n)
        if n <= 2000:
            assert (bands, r) == BASE
        recall = 1.0 - (1.0 - p1 ** r) ** bands
        assert recall >= base_recall - 1e-9
        if bands > 1:
            assert 1.0 - (1.0 - p1 ** r) ** (bands - 1) < base_recall

    @given(n=st.integers(min_value=1, max_value=10**12))
    @settings(max_examples=200, deadline=None)
    def test_derive_cell_bits_cell_size_bounded_everywhere(n):
        """For EVERY corpus size: expected cell size n / 2^bits stays
        within (n0/2, n0] once n > n0, and bits never shrink below
        the base."""
        bits = similarity.derive_cell_bits(n)
        assert bits >= 4
        if n <= 2000:
            assert bits == 4
        else:
            cell = n / 2 ** (bits - 4) / 16 * 16  # n / 2^(bits-4)
            assert 1000.0 < cell <= 2000.0

    @given(
        n1=st.integers(min_value=1, max_value=10**12),
        n2=st.integers(min_value=1, max_value=10**12),
    )
    @settings(max_examples=200, deadline=None)
    def test_derivations_monotone(n1, n2):
        """More data never derives a COARSER structure: rows_per_band
        and cell bits are nondecreasing in n."""
        if n1 > n2:
            n1, n2 = n2, n1
        assert similarity.derive_banding(n1)[1] <= similarity.derive_banding(n2)[1]
        assert similarity.derive_cell_bits(n1) <= similarity.derive_cell_bits(n2)
