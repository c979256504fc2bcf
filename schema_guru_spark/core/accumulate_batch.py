"""Columnar batch fold — the next cut on the executor hot path.

``fold_docs(acc, docs, ctx)`` is semantically identical to

    for d in docs: accumulate_doc(acc, d, ctx)

(law pinned by tests/test_core_roundtrip.py, hypothesis-driven exact
dict equality) but transposes each batch of parsed documents into
per-key value columns first, then folds each column with bulk
operations:

  * lengths/min/max over a string column run as one ``map(len)`` +
    C-level ``min``/``max`` instead of a Python branch per value;
  * int/num range updates are one ``min``/``max`` per column;
  * the format/pattern eq-or-none fold short-circuits at the FIRST
    disagreeing value in the column (the per-value kernel can only
    tombstone-skip from the next document on) — on heterogeneous keys
    the whole column's detector work collapses to one mismatch;
  * the per-value recursion survives only for containers, so the
    Python call count drops from O(total JSON leaves) to
    O(distinct keys x batches + containers).

Measured on the synthetic validation doc mix (nested object, ~14
leaves): 1.6x over ``accumulate`` (see BENCH/REGRESSION_r04.md).

``fold_keyed(texts, keys, ctx)`` wraps it in the per-batch parse ->
top-level gate -> unique-document collapse that every distributed
inference path runs (law pinned against a per-row reference by
tests/test_core_roundtrip.py::test_fold_keyed_equals_per_row_reference).

DOMAIN: commutative contexts with the enum machinery off
(``ctx.enum_disabled``) — exactly the distributed inference/validation
default (SchemaContext.make(0)). Enum candidates count value
multiplicities through an order-sensitive concat-size check per value,
which a bulk fold cannot reorder safely, so enum-enabled contexts fall
back to the per-value kernel (same results, prior speed). Strict
reference-product contexts are rejected by every distributed entry
point before reaching here (operators/infer.py::_require_commutative).

OWNERSHIP CONTRACT: same as ``accumulate`` — ``acc`` must be
task-private, never aliased.

Reference semantics: the fold is derive+merge per
SchemaGenerator.scala:136-222 / JsonSchema.scala:141-163, composed
over a batch; column order within a batch is immaterial because the
enum-free merge is pointwise associative + commutative.
"""

from __future__ import annotations

from typing import Any, Optional

import ipaddress
from datetime import datetime

import re

from schema_guru_spark.core.accumulate import accumulate, accumulate_doc
from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.formats import (
    IPV4_RE,
    URL_FULL_RE,
    UUID_RE,
    suggest_base64,
    suggest_format,
)


# shape prefilter for the date-time column verifier (see _fmt_survives)
_DT_SHAPE_RE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}[T ]")


def fold_docs(acc: dict, docs: list, ctx: SchemaContext) -> dict:
    """Fold a batch of gate-checked documents (each a dict or list)
    into ``acc``. Returns ``acc`` (mutated). Callers gate top-level
    kinds themselves (scalar instances are per-document errors with the
    reference's message — see ``accumulate_doc``)."""
    if not ctx.enum_disabled:
        for d in docs:
            accumulate_doc(acc, d, ctx)
        return acc
    _fold_column(acc, docs, ctx)
    return acc


def fold_keyed(texts, keys, ctx: SchemaContext,
               ctx_by_key: Optional[dict] = None
               ) -> tuple[dict, dict, list]:
    """Parse, gate and fold one batch of JSON texts into per-key states —
    the executor half of the reference lifecycle (derive per document,
    merge as a monoid, SchemaGuruRDD.scala:45-102), shared by every
    inference path (global and keyed inference, the validation scan,
    the keyed schema stream).

    ``texts`` is a pandas Series (or numpy array) of str-or-None;
    ``keys`` one of the same length, or None for one global key. NULL
    keys and the global key are both the key ``None``. ``ctx_by_key``
    optionally maps a key to the context its documents fold under
    (per-segment ``quantity``, SchemaCommand.scala:118-146); other keys
    use ``ctx``.

    Returns ``(states, counts, errors)``:

      * ``states``: {key: fresh task-private accumulator}, for keys
        with at least one valid document;
      * ``counts``: {key: [n_ok, n_err]}, for every key in the batch;
      * ``errors``: [(position, message)] in row order, one per failing
        row — ``"null content"``, ``"invalid JSON: ..."`` (the stdlib
        parser's message, see json_fast) or ``gate_error_message``.

    Each distinct text is parsed once (``pd.factorize``). Enum-off
    contexts then collapse rows on a fused (key, text) ``np.unique``:
    a document seen n >= 2 times under one key folds once, because
    folding it again leaves the accumulator unchanged
    (test_fold_of_a_repeated_doc_equals_one_fold), and each key's
    documents fold in one ``fold_docs`` pass. Enum-on contexts fold
    each key's documents in row order instead: the reference's enum
    merge is order-sensitive (SchemaWithEnum.scala:57-70), and the
    collapse reorders documents."""
    import numpy as np
    import pandas as pd

    from schema_guru_spark.core import json_fast
    from schema_guru_spark.core.accumulate import gate_error_message

    codes, uniques = pd.factorize(texts, use_na_sentinel=True)
    # per text code + 1 (0 = NULL content): the gated document, or None
    # and the row's error message
    docs: list = [None]
    msgs: list = ["null content"]
    parse = json_fast.loads
    for text in uniques:
        try:
            value = parse(text)
        except (ValueError, TypeError) as e:
            docs.append(None)
            msgs.append(f"invalid JSON: {e}")
            continue
        if isinstance(value, (dict, list)):
            docs.append(value)
            msgs.append(None)
        else:
            docs.append(None)
            msgs.append(gate_error_message(value))
    tcodes = codes.astype(np.int64) + 1
    if keys is None:
        key_vals: list = [None]
        kcodes = np.zeros(len(tcodes), dtype=np.int64)
    else:
        kc, kuniques = pd.factorize(keys, use_na_sentinel=True)
        key_vals = [None, *kuniques.tolist()]
        kcodes = kc.astype(np.int64) + 1
    width = len(docs)
    fused = kcodes * width + tcodes

    if ctx.enum_disabled:
        ukeys, ucounts = np.unique(fused, return_counts=True)
        groups = zip(ukeys.tolist(), ucounts.tolist())
    else:
        groups = ((f, 1) for f in fused.tolist())
    counts: dict = {}
    key_docs: dict = {}
    for f, cnt in groups:
        k, t = divmod(f, width)
        key = key_vals[k]
        c = counts.get(key)
        if c is None:
            c = counts[key] = [0, 0]
        doc = docs[t]
        if doc is None:
            c[1] += cnt
            continue
        c[0] += cnt
        key_docs.setdefault(key, []).append(doc)

    states = {
        key: fold_docs({}, batch, ctx if ctx_by_key is None
                       else ctx_by_key.get(key, ctx))
        for key, batch in key_docs.items()
    }
    bad = np.array([m is not None for m in msgs])
    pos = np.flatnonzero(bad[tcodes])
    errors = [(p, msgs[t])
              for p, t in zip(pos.tolist(), tcodes[pos].tolist())]
    return states, counts, errors


def _fold_column(acc: dict, vals: list, ctx: SchemaContext) -> None:
    """Fold a column of JSON values (any class mix) into one
    accumulator node.

    Homogeneous fast path: real corpora keep a stable type per key, so
    one C-level ``set(map(type, vals))`` pass (measured ~2.5ms/40k vs
    ~12ms for the dispatch loop it replaces) routes the whole column to
    its kind-fold directly, skipping the per-value branch + append.
    ``type`` is exact-class (bool never aliases int), matching the
    dispatch ladder below."""
    kinds = set(map(type, vals))
    if len(kinds) == 1:
        t = kinds.pop()
        if t is str:
            _fold_strs(acc, vals, ctx)
            return
        if t is dict:
            _fold_dicts(acc, vals, ctx)
            return
        if t is int:
            _fold_ints(acc, vals)
            return
        if t is bool:
            acc["bool"] = True
            return
        if t is type(None):
            acc["null"] = True
            return
        if t is list:
            arr = acc.get("arr")
            if arr is None:
                arr = acc["arr"] = {"items": {}}
            if len(vals) == 1:
                flat = vals[0]
            else:
                flat = []
                for lst in vals:
                    flat.extend(lst)
            if flat:
                _fold_column(arr["items"], flat, ctx)
            return
        # float (stateful int->num widening) and foreign classes: the
        # per-value kernel below stays authoritative
    strs: list | None = None
    ints: list | None = None
    dicts: list | None = None
    lists: list | None = None
    floats: list | None = None
    saw_bool = False
    saw_null = False
    for v in vals:
        t = v.__class__
        if t is str:
            if strs is None:
                strs = []
            strs.append(v)
        elif t is dict:
            if dicts is None:
                dicts = []
            dicts.append(v)
        elif t is bool:
            saw_bool = True
        elif t is int:
            if ints is None:
                ints = []
            ints.append(v)
        elif t is list:
            if lists is None:
                lists = []
            lists.append(v)
        elif t is float:
            if floats is None:
                floats = []
            floats.append(v)
        elif v is None:
            saw_null = True
        else:
            # builtin subclass or foreign type: the per-value kernel
            # owns that semantics (coerce-or-TypeError)
            accumulate(acc, v, ctx)
    if strs is not None:
        _fold_strs(acc, strs, ctx)
    if floats is not None:
        # rare in JSON-bearing corpora; int->num widening is stateful
        # (pops the int slot), keep the per-value kernel authoritative
        for v in floats:
            accumulate(acc, v, ctx)
    if ints is not None:
        _fold_ints(acc, ints)
    if saw_bool:
        acc["bool"] = True
    if saw_null:
        acc["null"] = True
    if dicts is not None:
        _fold_dicts(acc, dicts, ctx)
    if lists is not None:
        # enum-off fast path of the per-value kernel (accumulate.py):
        # elements fold straight into the shared items state — the
        # enum-free merge is pointwise assoc+comm, so element order and
        # array boundaries are immaterial
        arr = acc.get("arr")
        if arr is None:
            arr = acc["arr"] = {"items": {}}
        if len(lists) == 1:
            flat = lists[0]
        else:
            flat = []
            for lst in lists:
                flat.extend(lst)
        if flat:
            _fold_column(arr["items"], flat, ctx)


def _fold_dicts(acc: dict, dicts: list, ctx: SchemaContext) -> None:
    obj = acc.get("obj")
    if obj is None:
        obj = acc["obj"] = {"props": {}}
    props = obj["props"]
    cols = _transpose(dicts)
    for k, col in cols.items():
        child = props.get(k)
        if child is None:
            child = props[k] = {}
        _fold_column(child, col, ctx)


def _transpose(dicts: list) -> dict:
    """Batch of dicts -> {key: [values]}. Stable-key fast path: when
    every dict has the first dict's exact key set (one C-level length
    scan + KeyError backstop — equal sizes + superset of keys0 ==
    equal sets), transpose with one per-key list comprehension
    (measured 1.86x over the nested append loop). Key order of the
    result is first-dict order on the fast path, first-seen order on
    the fallback — immaterial, the enum-free merge is pointwise
    commutative and props is an unordered map."""
    first = dicts[0]
    nk = len(first)
    if set(map(len, dicts)) == {nk}:
        try:
            return {k: [d[k] for d in dicts] for k in first}
        except KeyError:
            pass  # same sizes but divergent keys: general path
    cols: dict[Any, list] = {}
    for d in dicts:
        for k, v in d.items():
            b = cols.get(k)
            if b is None:
                b = cols[k] = []
            b.append(v)
    return cols


def _fold_strs(acc: dict, vals: list, ctx: SchemaContext) -> None:
    qty = ctx.quantity
    st = acc.get("str")
    i = 0
    if st is None:
        v0 = vals[0]
        ln0 = len(v0) if ctx.derive_length else None
        st = acc["str"] = {
            "format": suggest_format(v0),
            "pattern": suggest_base64(v0, qty),
            "min_len": ln0, "max_len": ln0,
            "enum": None,  # ctx.enum_disabled on this path
        }
        i = 1
        if len(vals) == 1:
            return
    rest = vals[i:] if i else vals
    if ctx.derive_length:
        # None-absorbing min/max (JsonSchema.scala:141-163): once None
        # (derive_length off elsewhere), stays None
        if st["min_len"] is not None:
            lens = list(map(len, rest))
            mn = min(lens)
            mx = max(lens)
            if mn < st["min_len"]:
                st["min_len"] = mn
            if mx > st["max_len"]:
                st["max_len"] = mx
    else:
        st["min_len"] = None
        st["max_len"] = None
    fmt = st["format"]
    if fmt is not None and not _fmt_survives(fmt, rest):
        st["format"] = None
    pat = st["pattern"]
    if pat is not None:
        for v in rest:
            if suggest_base64(v, qty) != pat:
                st["pattern"] = None
                break


def _fmt_survives(fmt: str, vals: list) -> bool:
    """True iff ``suggest_format(v) == fmt`` for EVERY v — the column
    keeps its format annotation (eq-or-none, JsonSchema.scala:161-163).

    Per-format verifiers replace re-running the whole priority chain
    per value (measured 1.5x on format-stable columns — uuid/timestamp/
    url keys in real corpora never tombstone, so this loop runs over
    every value of every batch). Equivalence to the chain rests on the
    five formats being pairwise disjoint — a value matching THIS fmt's
    detector can never match a higher-priority one (uuid needs '-' at
    8/13 which no date/ip/url shape allows; date needs '-' at 4 which
    hex, dotted-quads, schemes and ipv6 literals all exclude; ipv4
    excludes ':'; ipv6 literals exclude '-' and '/'; uri starts with a
    scheme) — law-pinned against suggest_format by
    test_core_roundtrip.py::test_fmt_survives_equals_chain.

    Quirk preserved deliberately: the scalar detectors run ``.match``
    with ``$`` anchors, so a single trailing newline is tolerated
    wherever the length prefilter allows it (ipv4 <= 15 chars, uri);
    uuid's exact len==36 check excludes it. The verifiers reproduce
    that, not an idealized strictness."""
    if fmt == "uuid":
        # fullmatch == (.match AND len == 36): the pattern is exactly 36
        # chars between its anchors, and the len check existed only to
        # exclude $'s trailing-newline tolerance — which fullmatch's
        # true-end anchoring already does. One C pass instead of two.
        return all(map(UUID_RE.fullmatch, vals))
    if fmt == "date-time":
        # shape prefilter as ONE C-level regex pass (measured 1.65x over
        # the per-value char checks): .match of [0-9]{4}-..-..[T ] at
        # position 10 implies len > 10 and every old condition; [0-9] is
        # strictly narrower than str.isdigit (which also accepts
        # non-ASCII digits), but any such value fails fromisoformat —
        # the final authority on both paths — so outcomes agree
        # (law-pinned: test_fmt_survives_equals_chain).
        if not all(map(_DT_SHAPE_RE.match, vals)):
            return False
        try:
            # datetime is always truthy: all() just drains the C map
            return all(map(datetime.fromisoformat,
                           [s.replace("Z", "+00:00") for s in vals]))
        except ValueError:
            return False
    if fmt == "ipv4":
        return all(map(IPV4_RE.match, vals)) and max(map(len, vals)) <= 15
    if fmt == "uri":
        return all(map(URL_FULL_RE.match, vals))
    if fmt == "ipv6":
        v6 = ipaddress.IPv6Address
        for s in vals:
            if ":" not in s or "/" in s or s.count(":") < 2:
                return False
            try:
                v6(s)
            except ValueError:
                return False
        return True
    # unreachable from suggest_format's label set; stay semantics-safe
    return all(suggest_format(v) == fmt for v in vals)


def _fold_ints(acc: dict, vals: list) -> None:
    mn = min(vals)
    mx = max(vals)
    num = acc.get("num")
    if num is not None:
        # int ⊕ num -> num, widened (NumberSchema.scala:54-61),
        # None-absorbing bounds
        if num["min"] is not None:
            v = float(mn)
            if v < num["min"]:
                num["min"] = v
        if num["max"] is not None:
            v = float(mx)
            if v > num["max"]:
                num["max"] = v
        return
    it = acc.get("int")
    if it is None:
        acc["int"] = {"min": mn, "max": mx, "enum": None}
        return
    if it["min"] is not None and mn < it["min"]:
        it["min"] = mn
    if it["max"] is not None and mx > it["max"]:
        it["max"] = mx
