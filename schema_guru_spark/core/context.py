"""Schema inference context — the knobs that travel with every derive/merge.

Reference: SchemaContext at
/root/reference/src/main/scala/com.snowplowanalytics/schemaguru/schema/Helpers.scala:43-85
(enumCardinality, enumSets, quantity, deriveLength + predefined-enum lookups).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import cached_property
from typing import Any, Optional


def enum_key(v: Any) -> str:
    """Stable identity key for a JSON scalar that distinguishes types the
    way json4s JValue equality does (JBool(true) != JInt(1),
    JInt(1) != JDouble(1.0))."""
    if isinstance(v, bool):
        return "b:" + ("t" if v else "f")
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, float):
        # signed zero: -0.0 == 0.0 mathematically and the kernel
        # normalizes -0.0 away at every float entry point
        # (annotate_number / accumulate), so the identity key must not
        # resurrect the distinction — validate(-0.0) against enum [0.0]
        # has to match (round-5 kernel-fuzz finding)
        if v == 0.0:
            v = 0.0
        return "d:" + repr(v)
    if v is None:
        return "n:"
    if isinstance(v, str):
        return "s:" + v
    # containers inside enums are possible in principle; canonical dump
    return "j:" + json.dumps(v, sort_keys=True, separators=(",", ":"))


def distinct(values: list) -> list:
    """Order-preserving distinct with JValue-style type identity
    (reference: ``merged.distinct`` in SchemaWithEnum.scala:59)."""
    seen: set[str] = set()
    out = []
    for v in values:
        k = enum_key(v)
        if k not in seen:
            seen.add(k)
            out.append(v)
    return out


@dataclass(frozen=True)
class SchemaContext:
    """Knobs for derivation and merge.

    enum_cardinality: max enum size before the enum is tombstoned
        (Helpers.scala:43).
    enum_sets: predefined enum value lists; an observed enum that is a
        subset of one survives the cardinality cutoff and is substituted
        by the full set in the final transform pass (Helpers.scala:44-84).
    quantity: number of valid instances, when known up front — gates the
        base64 pattern suggestion (SchemaGenerator.scala:191-200). The
        reference Spark job never sets it (SchemaDerive.scala:84), the CLI
        does; we replicate knob-for-knob.
    derive_length: derive minLength/maxLength for strings
        (SchemaGenerator.scala:250-251).
    strict_reference_product: reproduce the reference's product int⊕num
        merge BIT-FOR-BIT (ProductSchema.scala:124-159), including its
        order-dependent integer-bounds loss: when the receiver product
        carries a number slot and the argument product carries only an
        integer slot, the integer is DROPPED without folding. The default
        (False) folds the integer into the number with the standard
        widening — the commutative variant distributed tree-reduction
        requires (core/microschema.py module docstring).
    """

    enum_cardinality: int = 0
    enum_sets: tuple = field(default=())  # tuple of tuples for hashability
    quantity: Optional[int] = None
    derive_length: bool = True
    strict_reference_product: bool = False

    def __post_init__(self) -> None:
        # a negative cutoff would render like 0 yet keep the enum
        # machinery half-live; refuse it (CLI / web-form values land here)
        if self.enum_cardinality < 0:
            raise ValueError(f"enum_cardinality must be >= 0, got "
                             f"{self.enum_cardinality}")

    @cached_property
    def enum_disabled(self) -> bool:
        """True when no enum machinery can ever produce a candidate
        (cardinality 0, no predefined sets) — the hot accumulate path
        skips construct_enum/merge_enums entirely then."""
        return self.enum_cardinality == 0 and not self.enum_sets

    @staticmethod
    def make(enum_cardinality: int = 0, enum_sets=None, quantity=None,
             derive_length: bool = True,
             strict_reference_product: bool = False) -> "SchemaContext":
        sets = tuple(tuple(s) for s in (enum_sets or []))
        return SchemaContext(enum_cardinality, sets, quantity, derive_length,
                             strict_reference_product)

    @cached_property
    def _sets(self) -> list[tuple[frozenset, int, tuple]]:
        """(key-set, size, original values) per predefined set
        (Helpers.scala:44-51)."""
        out = []
        for s in self.enum_sets:
            keys = frozenset(enum_key(v) for v in s)
            out.append((keys, len(keys), s))
        return out

    @cached_property
    def _combined(self) -> frozenset:
        """Union of all predefined-set keys (Helpers.scala:53-54)."""
        u: set[str] = set()
        for keys, _, _ in self._sets:
            u |= keys
        return frozenset(u)

    def in_one_of_enums(self, value: Any) -> bool:
        """Helpers.scala:66-73."""
        return enum_key(value) in self._combined

    def get_predefined_enum(self, enum: list) -> Optional[list]:
        """First predefined set containing all observed values; sets
        smaller than the observed distinct count are skipped
        (Helpers.scala:75-84). Returns the full predefined list
        (deterministic order — the reference returns Scala set order,
        which is nondeterministic; we keep declaration order)."""
        observed = frozenset(enum_key(v) for v in enum)
        for keys, size, original in self._sets:
            if size >= len(observed) and observed <= keys:
                return distinct(list(original))
        return None

    def is_predefined_enum(self, enum: list) -> bool:
        """Helpers.scala:57-63."""
        return self.get_predefined_enum(enum) is not None
