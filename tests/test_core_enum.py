"""Port of /root/reference/src/test/scala/EnumSpec.scala:36-83 plus the
predefined-set rescue/substitution behaviors (SchemaWithEnum.scala:57-70,
Helpers.scala:94-107)."""

import dataclasses

import pytest

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.microschema import merge_all, render
from schema_guru_spark.core.transforms import substitute_enums


def S_enum(vals):
    return {"str": {"format": None, "pattern": None,
                    "min_len": None, "max_len": None, "enum": vals}}


E1, E2, E3 = S_enum(["AB"]), S_enum(["AC"]), S_enum(["AD"])


def test_merge_with_zero_cardinality():
    # EnumSpec.scala:57-62: cardinality 0 eliminates the enum
    ctx = SchemaContext.make(0)
    merged = render(merge_all([E1, E1], ctx), ctx)
    assert "enum" not in merged


def test_negative_cardinality_is_refused():
    # a negative cutoff used to render like 0 while keeping the enum
    # machinery live (slow per-value fold, accepted by the validation
    # job); every construction path refuses it now
    for build in (lambda: SchemaContext.make(-1),
                  lambda: SchemaContext(enum_cardinality=-3),
                  lambda: dataclasses.replace(SchemaContext.make(2),
                                              enum_cardinality=-1)):
        with pytest.raises(ValueError, match="enum_cardinality must be >= 0"):
            build()
    # the CLI flag is refused as a usage error, before Spark starts
    from schema_guru_spark.cli import main
    with pytest.raises(SystemExit) as exc:
        main(["schema", "in", "--enum-cardinality", "-1"])
    assert exc.value.code == 2


def test_merge_with_same_enum():
    # EnumSpec.scala:64-69
    ctx = SchemaContext.make(5)
    merged = render(merge_all([E1, E1], ctx), ctx)
    assert merged["enum"] == ["AB"]


def test_merge_several_enums():
    # EnumSpec.scala:71-76
    ctx = SchemaContext.make(5)
    merged = render(merge_all([E1, E1, E2, E3], ctx), ctx)
    assert merged["enum"] == ["AB", "AC", "AD"]


def test_merge_with_over_cardinality():
    # EnumSpec.scala:78-82: 3 distinct values at cardinality 2 -> eliminated
    ctx = SchemaContext.make(2)
    merged = render(merge_all([E1, E1, E2, E3], ctx), ctx)
    assert "enum" not in merged


def test_concat_size_check_precedes_distinct():
    # SchemaWithEnum.scala:57-59: the size check runs on the CONCATENATED
    # list, so ["AB"] ⊕ ["AB"] at cardinality 1 is eliminated even though
    # the distinct union has size 1.
    ctx = SchemaContext.make(1)
    merged = render(merge_all([E1, E1], ctx), ctx)
    assert "enum" not in merged


def test_none_tombstone_absorbs():
    # "None will eliminate all following enum merges" SchemaWithEnum.scala:33-34
    ctx = SchemaContext.make(2)
    merged = merge_all([E1, E2, E3, E1], ctx)
    assert merged["str"]["enum"] is None


def test_predefined_set_rescues_over_cardinality():
    # SchemaWithEnum.scala:61-68: over-cardinality survives when the values
    # are a subset of a predefined set
    ctx = SchemaContext.make(2, enum_sets=[["AB", "AC", "AD", "AE"]])
    merged = merge_all([E1, E2, E3], ctx)
    assert merged["str"]["enum"] is not None
    # T3 substitutes the full predefined set (Helpers.scala:94-107)
    final = substitute_enums(merged, ctx)
    assert final["str"]["enum"] == ["AB", "AC", "AD", "AE"]


def test_enum_type_identity():
    # JValue-style identity: 1 (int), 1.0 (double), true (bool) are distinct
    ctx = SchemaContext.make(5)
    a = {"int": {"min": 1, "max": 1, "enum": [1]}}
    b = {"num": {"min": 1.0, "max": 1.0, "enum": [1.0]}}
    merged = merge_all([a, b], ctx)
    assert merged["num"]["enum"] == [1, 1.0]
