"""Hypothesis property tests over the pure-python reference implementations
of engine kernels (chunking geometry, hashing embedder, token counts) —
fast invariants that complement the Spark-vs-DuckDB oracle."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from vectrekker_spark.queries.vector import hash_embed_batch

TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs")),
    min_size=1,
    max_size=400,
)


@settings(max_examples=50, deadline=None)
@given(TEXT)
def test_hash_embed_unit_norm_or_zero(text):
    vec = hash_embed_batch(pd.Series([text]))[0]
    nrm = math.sqrt(sum(x * x for x in vec))
    assert abs(nrm - 1.0) < 1e-9 or nrm == 0.0


@settings(max_examples=50, deadline=None)
@given(TEXT)
def test_hash_embed_deterministic_and_whitespace_insensitive(text):
    a = hash_embed_batch(pd.Series([text]))[0]
    b = hash_embed_batch(pd.Series([f"  {text}  "]))[0]  # trim-invariant
    assert a == b


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=1, max_value=700), st.integers(min_value=0, max_value=50))
def test_chunk_geometry(n, overlap):
    # pure-python mirror of chunk_text's sequence arithmetic: coverage + step
    size = overlap + 50
    step = size - overlap
    starts = list(range(1, max(n, 1) + 1, step))
    # every char covered
    covered = set()
    for s in starts:
        covered.update(range(s, min(s + size, n + 1)))
    assert covered == set(range(1, n + 1))
    # chunk starts strictly increasing, first at 1
    assert starts[0] == 1 and all(b - a == step for a, b in zip(starts, starts[1:]))


# --- round-3 invariants -----------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(10**14), max_value=10**14))
def test_money_long_roundtrips_every_2dp_value(cents):
    # The scaled-long money path (util.money_long / q03 / tpch) depends on
    # ROUND(x*100) recovering the exact integer from a 2-dp value stored as
    # double. Exhaustive-by-property: for any cents value in range, the
    # double nearest to cents/100, multiplied by 100 and rounded half-up,
    # is exactly cents again.
    x = cents / 100.0
    assert round(x * 100) == cents


@settings(max_examples=100, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs", "Sm"),
            whitelist_characters="'\t\n",
        ),
        max_size=300,
    )
)
def test_bpe_pattern_reorder_count_equivalent(text):
    # BPE_ISH_PATTERN was reordered letters-first for Java-NFA speed; the
    # docstring claims count-equivalence to the contraction-first form under
    # leftmost-first matching. Property-check the claim on arbitrary text.
    import re

    contraction_first = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    from vectrekker_spark.functions.tokenize import BPE_ISH_PATTERN

    assert len(re.findall(BPE_ISH_PATTERN, text)) == len(
        re.findall(contraction_first, text)
    )


@settings(max_examples=100, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Nd", "Zs"), whitelist_characters=" \t\n\r"
        ),
        max_size=200,
    )
)
def test_regexp_count_tokens_equals_split_semantics(text):
    # token_count switched from size(split(trim)) to regexp_count(trim,'\S+');
    # the two must agree for every input, INCLUDING empty / whitespace-only
    # (where the old form special-cased empty → 0).
    import re

    stripped = text.strip()
    split_form = 0 if stripped == "" else len(re.split(r"\s+", stripped))
    count_form = len(re.findall(r"\S+", stripped))
    assert count_form == split_form
