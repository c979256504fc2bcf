"""Property-based roundtrip — port of RandomValidSpec.scala:35-70:
(i) a derived schema validates its own source instance;
(ii) {} validates anything;
(iii) a type-mismatched instance fails;
plus merge laws (associativity/commutativity/identity) that distributed
tree-reduction depends on."""

import json
import string
import uuid

from hypothesis import example, given, settings
from hypothesis import strategies as st

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.microschema import (
    ZERO, derive, dumps, loads, merge, merge_all, render,
)
from schema_guru_spark.core.transforms import apply_transforms
from schema_guru_spark.core.validate import is_valid, validate

CTX = SchemaContext.make(0)
CTX_ENUM = SchemaContext.make(5)

keys = st.text(string.ascii_letters + "_", min_size=1, max_size=8)
scalars = st.one_of(
    st.none(),
    st.booleans(),
    # float-exact range: int⊕number widening goes through float64 (as the
    # reference's BigInt.toDouble, NumberSchema.scala:54-61), so integers
    # beyond 2^53 lose precision in merged bounds. The reference property
    # suite generates 32-bit ints (RandomValidSpec.scala:75-149).
    st.integers(min_value=-(2**53) + 1, max_value=2**53 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=30),
    st.uuids().map(str),
    st.datetimes().map(lambda d: d.isoformat()),
    # format-heavy strings + near-misses (trailing newline, bad octet)
    # so the batch path's per-format verifiers (_fmt_survives) meet
    # both survivors and tombstoners
    st.ip_addresses(v=4).map(str),
    st.ip_addresses(v=6).map(str),
    st.sampled_from([
        "http://example.com/a", "https://x.io", "ftp://h.org/f",
        "1.2.3.4\n", "256.1.1.1", "not-a-url://x",
        "123e4567-e89b-12d3-a456-426614174000\n",
        "2024-13-40T99:99:99", "2024-01-02T03:04:05Z",
    ]),
)
json_values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(keys, children, max_size=4),
    ),
    max_leaves=12,
)
json_docs = st.one_of(
    st.dictionaries(keys, json_values, max_size=5),
    st.lists(json_values, max_size=5),
)


@settings(max_examples=200, deadline=None)
@given(json_docs)
def test_derived_schema_validates_own_instance(doc):
    sch, err = derive(doc, CTX)
    assert err is None
    rendered = render(sch, CTX)
    assert validate(doc, rendered) == []


@settings(max_examples=100, deadline=None)
@given(json_docs)
def test_derived_schema_validates_after_transforms(doc):
    # transforms only widen/relax numeric+length bounds, so validity holds
    sch, _ = derive(doc, CTX)
    rendered = render(apply_transforms(sch, CTX), CTX)
    assert validate(doc, rendered) == []


@settings(max_examples=100, deadline=None)
@given(json_values)
def test_empty_schema_validates_anything(value):
    assert is_valid(value, {})


def test_type_mismatch_fails():
    sch, _ = derive({"a": 42}, CTX)
    rendered = render(sch, CTX)
    assert not is_valid({"a": "forty-two"}, rendered)


def canon(s):
    """Canonical dump modulo enum ORDER — enum ordering is
    observation-order-dependent in the reference too (EnumSpec.scala:75
    'TODO: ignore order'); membership and tombstoning are not."""
    o = json.loads(dumps(s))

    def fix(node):
        if isinstance(node, dict):
            for k, v in node.items():
                if k == "enum" and isinstance(v, list):
                    node[k] = sorted(map(repr, v))
                else:
                    fix(v)
    fix(o)
    return json.dumps(o, sort_keys=True)


@settings(max_examples=150, deadline=None)
@given(st.lists(json_docs, min_size=1, max_size=5))
def test_merge_commutative_and_associative(docs):
    """Enum-OFF contexts only: the enum-free merge is the commutative
    monoid the distributed tree-reduction depends on. Enum-bearing
    contexts are order-sensitive BY REFERENCE SEMANTICS (the concat-size
    check, SchemaWithEnum.scala:57-70) — pinned separately below — and
    the distributed paths fold their states in partition order instead
    of through the combine tree (operators/infer.py:
    infer_json_column)."""
    schemas = [derive(d, CTX)[0] for d in docs]
    fwd = merge_all(schemas, CTX)
    rev = merge_all(list(reversed(schemas)), CTX)
    # pairwise tree shape
    tree = schemas[0]
    for s in schemas[1:]:
        tree = merge(s, tree, CTX)
    assert canon(fwd) == canon(rev) == canon(tree)


def test_signed_zero_is_normalized_and_order_invariant():
    """Round-5 kernel-fuzz finding: -0.0 and 0/0.0 compare equal, and
    bounds updates keep the first-seen representative on strict-</>
    ties, so an un-normalized signed zero made BOTH kernels emit
    '-0.0' or '0.0' depending on value order (and the batch fold's
    floats-before-ints replay order) — an order-visible rendered
    schema, i.e. a real counterexample to the commutative-monoid law.
    Both float entry points (annotate_number, the accumulate cold
    branch) now normalize -0.0 -> 0.0 before any state is written."""
    from schema_guru_spark.core.accumulate import accumulate_doc
    from schema_guru_spark.core.accumulate_batch import fold_docs
    docs = [[0, -0.0], [-0.0, 0], [0.0, -0.0], [-0.0, 0.0],
            [-0.0], {"k": [False, 0, -0.0]}]
    for d in docs:
        row = dumps(accumulate_doc({}, d, CTX))
        batch = dumps(fold_docs({}, [d], CTX))
        assert row == batch
        assert "-0.0" not in row
    a, _ = derive([-0.0], CTX)
    b, _ = derive([0.0], CTX)
    assert dumps(merge_all([a, b], CTX)) == dumps(merge_all([b, a], CTX))
    # validator side: enum identity keys must not resurrect the
    # distinction — a -0.0 instance satisfies enum [0.0] (and vice
    # versa), same mathematical-equality rule as 1.0 vs enum [1]
    s, _ = derive([-0.0], CTX_ENUM)
    assert validate(-0.0, render(s, CTX_ENUM)["items"]) == []
    assert validate(0.0, render(s, CTX_ENUM)["items"]) == []
    assert validate(0, render(s, CTX_ENUM)["items"]) == []


def test_enum_merge_is_order_sensitive_by_reference_semantics():
    """The counterexample hypothesis found (2026-08-18), kept as a pin:
    the reference's concat-size-before-distinct rule makes enum merge
    NON-commutative — forward order tombstones (intermediate concat of
    4 + 2 observations > cardinality 5) while reverse order survives
    (the duplicate '' collapses before the final size check). This is
    reference behavior (EnumSpec.scala:75 'TODO: ignore order'), not a
    repo bug; it is WHY enum-bearing contexts must never ride the
    unordered combine tree."""
    docs = [[["0", "0.0.0.0"]],
            [["", "http://example.com/a"]],
            [["", "e3e70682-c209-4cac-629f-6fbed82c07cd"]]]
    schemas = [derive(d, CTX_ENUM)[0] for d in docs]
    fwd = merge_all(schemas, CTX_ENUM)
    rev = merge_all(list(reversed(schemas)), CTX_ENUM)
    f_enum = fwd["arr"]["items"]["arr"]["items"]["str"]["enum"]
    r_enum = rev["arr"]["items"]["arr"]["items"]["str"]["enum"]
    assert f_enum is None
    assert r_enum is not None and len(r_enum) == 5


@settings(max_examples=100, deadline=None)
@given(json_docs)
def test_state_json_roundtrip(doc):
    sch, _ = derive(doc, CTX_ENUM)
    assert loads(dumps(sch)) == sch


@settings(max_examples=50, deadline=None)
@given(st.lists(json_docs, min_size=2, max_size=6))
def test_merged_schema_validates_all_instances(docs):
    schemas = [derive(d, CTX)[0] for d in docs]
    merged = render(merge_all(schemas, CTX), CTX)
    for d in docs:
        assert validate(d, merged) == []


@settings(max_examples=150, deadline=None)
@given(json_docs, st.integers(min_value=2, max_value=6))
def test_merge_self_stabilizes(doc, n):
    """The unique-document fast path law: folding n >= 2 copies of the
    same micro-schema equals one self-merge (s ⊕ s). Exercised with
    enum-bearing contexts where the concat-size check is the subtle
    part (SchemaWithEnum.scala:57-59)."""
    for ctx in (CTX, CTX_ENUM, SchemaContext.make(1)):
        s, err = derive(doc, ctx)
        if err is not None:
            return
        twice = merge(s, s, ctx)
        folded = s
        for _ in range(n - 1):
            folded = merge(folded, s, ctx)
        assert dumps(folded) == dumps(twice)


@settings(max_examples=250, deadline=None)
@given(st.lists(json_docs, min_size=1, max_size=5))
def test_accumulate_equals_derive_merge(docs):
    """Hot-path fusion law: in-place accumulate over a doc list produces
    the exact state of the pure derive+merge fold — for plain, enum, and
    tight-cardinality contexts."""
    from schema_guru_spark.core.accumulate import accumulate_doc
    # the context sweep must include enum_sets-with-cardinality-0 and a
    # known quantity: those keep ctx.enum_disabled False / gate base64,
    # exercising the hot path's guarded branches (r03 review finding —
    # the enum-guard and tombstone-skip cuts are only equivalent if
    # these branches still run when they CAN matter)
    for ctx in (CTX, CTX_ENUM, SchemaContext.make(1),
                SchemaContext.make(0, enum_sets=[["a", "b", 1, True]]),
                # int+float set members: construct_enum is live even at
                # cardinality 0, so the array no-enum fast path must NOT
                # fire (its gate is ctx.enum_disabled, not cardinality —
                # r05 review: [1.5] then [1,2] ordered the num enum
                # [2,1,1.5] vs the pure fold's [1,2,1.5])
                SchemaContext.make(0, enum_sets=[[1, 2, 1.5]]),
                SchemaContext.make(0, quantity=5),
                SchemaContext.make(2, enum_sets=[["x", "y"]], quantity=20)):
        pure = ZERO
        for d in docs:
            pure = merge(pure, derive(d, ctx)[0], ctx)
        fused = {}
        for d in docs:
            accumulate_doc(fused, d, ctx)
        # byte-exact: array literals are pre-merged into a fresh
        # sub-state inside accumulate (as derivation does), so even enum
        # ordering and tombstone outcomes coincide
        assert dumps(fused) == dumps(pure)


def test_validate_huge_int_against_float_enum():
    """10**400 has no float twin — the widening probe must record an
    enum miss, not crash with OverflowError (r05 review)."""
    assert validate(10**400, {"enum": [1.0]}) == ["$: value not in enum"]
    assert validate(10**400, {"enum": [10**400]}) == []
    assert validate(2**53, {"enum": [float(2**53)]}) == []


def test_array_fast_path_respects_live_enum_sets():
    """Deterministic pin of the r05 review finding: a numeric
    predefined enum set keeps construct_enum live at cardinality 0, so
    streaming array elements into existing num state reorders the enum
    ([2, 1, 1.5]) relative to the pure derive+merge fold ([1, 2, 1.5])."""
    from schema_guru_spark.core.accumulate import accumulate_doc
    ctx = SchemaContext.make(0, enum_sets=[[1, 2, 1.5]])
    docs = [{"k": [1.5]}, {"k": [1, 2]}]
    pure = ZERO
    for d in docs:
        pure = merge(pure, derive(d, ctx)[0], ctx)
    fused = {}
    for d in docs:
        accumulate_doc(fused, d, ctx)
    assert dumps(fused) == dumps(pure)


def test_identity_law():
    sch, _ = derive({"x": [1, "a", None]}, CTX)
    assert merge(sch, ZERO, CTX) == sch == merge(ZERO, sch, CTX)


def test_realistic_fixture():
    # PagerDuty-style webhook in the spirit of
    # /root/reference/src/test/resources/test_json_1.json
    doc = {
        "id": str(uuid.uuid4()),
        "created_on": "2014-11-12T18:53:47+00:00",
        "type": "incident.trigger",
        "data": {
            "incident": {
                "number": 119,
                "status": "triggered",
                "html_url": "https://acme.pagerduty.com/incidents/P9WY9U9",
                "resolved_by_user": None,
            }
        },
    }
    sch, err = derive(doc, CTX)
    assert err is None
    rendered = render(sch, CTX)
    inc = rendered["properties"]["data"]["properties"]["incident"]
    assert rendered["properties"]["id"]["format"] == "uuid"
    assert rendered["properties"]["created_on"]["format"] == "date-time"
    assert inc["properties"]["html_url"]["format"] == "uri"
    assert inc["properties"]["number"]["type"] == "integer"
    assert inc["properties"]["resolved_by_user"]["type"] == "null"
    assert validate(doc, rendered) == []


@settings(max_examples=250, deadline=None)
@given(st.lists(json_docs, min_size=1, max_size=6))
def test_fold_docs_equals_accumulate(docs):
    """Columnar batch-fold law (core/accumulate_batch.py): fold_docs
    over a batch == sequential accumulate_doc, byte-exact — across the
    enum-disabled contexts the batch path owns (incl. quantity gating
    base64 and derive_length off) AND the enum-enabled contexts where
    fold_docs must route to the per-value fallback."""
    from schema_guru_spark.core.accumulate import accumulate_doc
    from schema_guru_spark.core.accumulate_batch import fold_docs
    for ctx in (CTX,
                SchemaContext.make(0, quantity=5),
                SchemaContext.make(0, quantity=200),
                SchemaContext.make(0, derive_length=False),
                CTX_ENUM,
                SchemaContext.make(2, enum_sets=[["x", "y"]], quantity=20)):
        seq = {}
        for d in docs:
            accumulate_doc(seq, d, ctx)
        batch = fold_docs({}, list(docs), ctx)
        assert dumps(batch) == dumps(seq)


@settings(max_examples=120, deadline=None)
@given(st.lists(json_docs, min_size=2, max_size=8),
       st.integers(min_value=1, max_value=3))
def test_fold_docs_batch_split_invariance(docs, cut):
    """Folding one batch == folding any split of it into sub-batches
    (the mapInPandas batch boundary must not be observable)."""
    from schema_guru_spark.core.accumulate_batch import fold_docs
    k = min(cut, len(docs) - 1)
    one = fold_docs({}, list(docs), CTX)
    split = {}
    fold_docs(split, list(docs[:k]), CTX)
    fold_docs(split, list(docs[k:]), CTX)
    assert dumps(one) == dumps(split)


# keyed batches: a small pool of docs drawn repeatedly (repeats within
# and across keys) mixed with every failing-row kind the gate knows. The
# pinned docs make row order observable under a tight enum cutoff
# ({"e": 1}, {"e": 2}, {"e": 1} tombstones at K=2; collapsed, it keeps
# the enum) and quantity observable through the base64 suggestion.
_pinned_docs = ['{"e": 1}', '{"e": 2}', '{"b": "abcd"}']
_keyed_rows = st.lists(json_docs, max_size=2).flatmap(
    lambda pool: st.lists(
        st.tuples(
            st.sampled_from([None, "k1", "k2"]),
            st.one_of(
                st.sampled_from([json.dumps(d) for d in pool]
                                + _pinned_docs),
                st.sampled_from([None, "null", "3", '"s"', "{broken",
                                 "[1, 2"]),
            ),
        ),
        max_size=14,
    ))


def _per_row_reference(rows, ctx, ctx_by_key):
    """Parse and gate each row, then accumulate_doc it into its key's
    state — the naive per-row fold fold_keyed must equal."""
    from schema_guru_spark.core.accumulate import accumulate_doc
    from schema_guru_spark.core.json_fast import loads as fast_loads
    states, counts, errors = {}, {}, []
    for pos, (key, text) in enumerate(rows):
        c = counts.setdefault(key, [0, 0])
        if text is None:
            msg = "null content"
        else:
            try:
                value = fast_loads(text)
            except (ValueError, TypeError) as e:
                msg = f"invalid JSON: {e}"
            else:
                st_ = states.get(key, {})
                try:
                    accumulate_doc(st_, value, ctx_by_key.get(key, ctx))
                except ValueError as e:  # top-level gate
                    msg = str(e)
                else:
                    states[key] = st_
                    c[0] += 1
                    continue
        c[1] += 1
        errors.append((pos, msg))
    return states, counts, errors


@settings(max_examples=150, deadline=None)
@given(_keyed_rows)
@example([("k1", '{"e": 1}'), ("k1", '{"e": 2}'), ("k1", '{"e": 1}'),
          ("k1", '{"b": "abcd"}'), (None, None), ("k2", "null")])
def test_fold_keyed_equals_per_row_reference(rows):
    """The shared keyed kernel (parse once per distinct text, gate,
    fused (key, doc) collapse, one fold_docs per key) equals the naive
    per-row fold: same states, per-key counts and (position, message)
    errors — enum-off (collapsed) and enum-on (row-order) contexts,
    keyed, global, and with a per-key context map."""
    import dataclasses

    import pandas as pd
    import pytest

    from schema_guru_spark.core import json_fast
    from schema_guru_spark.core.accumulate_batch import fold_keyed

    keys = pd.Series([k for k, _ in rows], dtype=object)
    texts = pd.Series([t for _, t in rows], dtype=object)
    n_distinct = len({t for t in texts if t is not None})
    real_loads = json_fast.loads
    for ctx in (CTX, SchemaContext.make(0, quantity=5), CTX_ENUM,
                SchemaContext.make(2, enum_sets=[["x", "y"]])):
        for batch_keys, ref_rows, ctx_by_key in (
                (keys, rows, {}),
                (None, [(None, t) for _, t in rows], {}),
                (keys, rows, {"k1": dataclasses.replace(ctx, quantity=3)})):
            calls = [0]

            def counting(text):
                calls[0] += 1
                return real_loads(text)

            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(json_fast, "loads", counting)
                states, counts, errors = fold_keyed(
                    texts, batch_keys, ctx, ctx_by_key or None)
            assert calls[0] == n_distinct
            ref_states, ref_counts, ref_errors = _per_row_reference(
                ref_rows, ctx, ctx_by_key)
            assert {k: dumps(s) for k, s in states.items()} == \
                {k: dumps(s) for k, s in ref_states.items()}
            assert counts == ref_counts
            assert errors == ref_errors


@settings(max_examples=300, deadline=None)
@given(st.one_of(json_docs.map(json.dumps), st.sampled_from(_pinned_docs)))
def test_fold_of_a_repeated_doc_equals_one_fold(text):
    """The law behind fold_keyed's collapse: for an enum-off context, a
    document folded twice gives the same accumulator as folded once, so
    a document seen n >= 2 times under one key folds once. Docs and
    contexts are those of test_fold_keyed_equals_per_row_reference."""
    import dataclasses

    from schema_guru_spark.core import json_fast
    from schema_guru_spark.core.accumulate_batch import fold_docs

    doc = json_fast.loads(text)
    for base in (CTX, SchemaContext.make(0, quantity=5), CTX_ENUM,
                 SchemaContext.make(2, enum_sets=[["x", "y"]])):
        for ctx in (base, dataclasses.replace(base, quantity=3)):
            if ctx.enum_disabled:
                assert fold_docs({}, [doc, doc], ctx) == \
                    fold_docs({}, [doc], ctx)


# format-shaped strings + adversarial near-misses for the verifier law
_fmt_strings = st.one_of(
    st.uuids().map(str),
    st.datetimes().map(lambda d: d.isoformat()),
    st.ip_addresses(v=4).map(str),
    st.ip_addresses(v=6).map(str),
    st.text(max_size=40),
    st.sampled_from([
        "http://example.com/a?q=1#f", "https://localhost:8080/x",
        "ftp://1.2.3.4/f", "http://no-tld", "https://x.io\n",
        "1.2.3.4\n", "255.255.255.255\n", "256.1.1.1", "01.2.3.4",
        "123e4567-e89b-12d3-a456-426614174000",
        "123e4567-e89b-12d3-a456-426614174000\n",
        "123E4567-E89B-12D3-A456-426614174000",
        "2024-01-02T03:04:05Z", "2024-01-02 03:04:05",
        "2024-13-40T99:99:99", "2024-01-02", "::1", "fe80::1%eth0",
        "1:2:3:4:5:6:7:8", "::ffff:1.2.3.4", "a:b::c/64",
    ]),
)


@settings(max_examples=300, deadline=None)
@given(st.sampled_from(["uuid", "date-time", "ipv4", "ipv6", "uri"]),
       st.lists(_fmt_strings, min_size=1, max_size=6))
def test_fmt_survives_equals_chain(fmt, vals):
    """_fmt_survives(fmt, vals) must equal re-running the full scalar
    priority chain per value — including the scalar detectors'
    trailing-newline quirks ($-anchored .match behind length
    prefilters). Any divergence breaks the fold==accumulate law on
    format-stable columns."""
    from schema_guru_spark.core.accumulate_batch import _fmt_survives
    from schema_guru_spark.core.formats import suggest_format
    want = all(suggest_format(v) == fmt for v in vals)
    assert _fmt_survives(fmt, vals) is want, (fmt, vals)


def test_enum_numeric_equality_is_symmetric():
    """JSON Schema numeric equality is mathematical (1 == 1.0), BOTH
    directions: an int instance satisfies a float enum value and an
    integral float instance satisfies an int enum value. Big ints
    beyond float precision must not alias through the widening."""
    from schema_guru_spark.core.validate import validate

    assert validate(1, {"type": "number", "enum": [1.0]}) == []
    assert validate(1.0, {"type": "number", "enum": [1]}) == []
    assert validate(1.5, {"type": "number", "enum": [1]}) != []
    big = 2**53 + 1          # float(big) rounds to 2**53
    assert validate(big, {"type": "integer", "enum": [float(2**53)]}) \
        != []                # must NOT alias via lossy widening
    assert validate(float(2**53), {"type": "number",
                                   "enum": [2**53]}) == []


def test_detect_format_series_matches_scalar_on_exotic_iso():
    """detect_format_series claims 'same precedence as suggest_format';
    fromisoformat accepts hour-only, compact-time and comma-fraction
    ISO forms the fast regex rejects — the fallback must route them
    through the scalar detector so the two surfaces agree."""
    import pandas as pd

    from schema_guru_spark.core.formats import (detect_format_series,
                                                suggest_format)
    vals = ["2020-01-01T01", "2020-01-01 010203",
            "2020-01-01T01:02:03,500", "2020-13-01T00:00",
            "2020-01-01T01:02", "2020-01-01", "not a date",
            "2fbe54a8-6e5f-4f0a-9d5c-6f2b1a3c4d5e"]
    got = detect_format_series(pd.Series(vals)).tolist()
    assert got == [suggest_format(v) for v in vals]
