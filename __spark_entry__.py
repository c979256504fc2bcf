"""Driver contract for the spark-graft builder (PySpark target).

``REGISTRY`` names each implemented operator from SURVEY.md §2 once:
its query, runnable as ``fn(spark, sf_dir) -> DataFrame``; its DuckDB
oracle SQL (same column names/aliases) for the driver's side-by-side
correctness check, or ``None`` when the operator is not
SQL-expressible (the recursive schema-merge render, the KS sketch) and
is checked rows-only; and whether it is in the driver's window. The
queries and their oracles sit side by side in ``driver_queries/``, one
module per operator family.

The window: the driver's correctness harness records only the FIRST 50
entries of ``queries()``. ``queries()`` lists the in-window entries
first, in registry order, then the rest; an entry past the window is
still checked against its oracle by tests/test_oracle_parity.py.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable
from typing import NamedTuple, Optional

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)


def _put_root_on_path(env) -> None:
    """Prepend the checkout to ``env``'s PYTHONPATH (once)."""
    path = env.get("PYTHONPATH") or ""
    if _ROOT not in path.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(filter(None, (_ROOT, path)))


# Spark's Python workers import the package too, from their own cwd: a
# JVM started after this import inherits the PYTHONPATH, and a running
# context ships its ``environment`` with every Python function it wraps
_put_root_on_path(os.environ)
if SparkContext._active_spark_context is not None:
    _put_root_on_path(SparkContext._active_spark_context.environment)

from driver_queries import constraints, dedup, infer, media, sampling, text
from driver_queries import table as _t
from driver_queries.infer import CTX
from schema_guru_spark.operators.infer import infer_json_column

# ---------------------------------------------------------------------------
# entry — flagship: distributed schema inference over events.props
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Infer the merged JSON Schema of sf0.001 events.props (derive and
    fold per partition -> fold of the partition states in pid order,
    through a combine tree first only above 64 states -> transform
    passes), returning a one-row DataFrame with the rendered schema +
    counters."""
    events = _t(spark, "/root/testdata/sf0.001", "events")
    res = infer_json_column(events, "props", CTX)
    rendered = json.dumps(res.schema(CTX), sort_keys=True)
    dupes = json.dumps(sorted(res.duplicated_keys()))
    return spark.createDataFrame(
        [(rendered, res.n_ok, res.n_err, dupes)],
        "schema string, n_ok long, n_err long, duplicated_keys string",
    )


Query = Callable[[SparkSession, str], DataFrame]


class Op(NamedTuple):
    name: str
    query: Query
    oracle: Optional[str]  # None: rows-only
    window: bool           # recorded by the driver


IN, OUT = True, False

REGISTRY = (
    Op("infer_top_keys", infer.top_keys, infer.TOP_KEYS, IN),
    Op("infer_string_annotations", infer.string_annotations,
       infer.STRING_ANNOTATIONS, IN),
    Op("infer_numeric_bounds", infer.numeric_bounds, infer.NUMERIC_BOUNDS,
       IN),
    Op("infer_by_type_keys", infer.by_type_keys, infer.BY_TYPE_KEYS, IN),
    Op("infer_props_schema", infer.props_schema, None, OUT),
    Op("infer_by_event_type", infer.by_event_type, None, OUT),
    Op("string_profile_doc_text", infer.doc_text_profile,
       infer.DOC_TEXT_PROFILE, IN),
    Op("numeric_profile_quantity", infer.quantity_profile,
       infer.QUANTITY_PROFILE, IN),
    Op("enum_orderpriority", infer.orderpriority_enum,
       infer.ORDERPRIORITY_ENUM, IN),
    Op("enum_over_cardinality", infer.event_type_enum,
       infer.EVENT_TYPE_ENUM, IN),
    Op("duplicate_keys_source", infer.source_key_dupes,
       infer.SOURCE_KEY_DUPES, IN),
    Op("segment_props", infer.props_segments, infer.PROPS_SEGMENTS, IN),
    Op("latest_event_per_user", infer.latest_event, infer.LATEST_EVENT, IN),
    Op("uniqueness_lineitem_pk", constraints.lineitem_pk_unique,
       constraints.LINEITEM_PK_UNIQUE, IN),
    Op("ri_orders_customer", constraints.orders_customer_ri,
       constraints.ORDERS_CUSTOMER_RI, IN),
    Op("duplicate_rows_events_user", constraints.events_user_dup_rows,
       constraints.EVENTS_USER_DUP_ROWS, IN),
    Op("psi_price_returnflag", constraints.psi, constraints.PSI, IN),
    Op("ks_quantity_linestatus", constraints.ks, constraints.KS, IN),
    Op("ks_quantity_sketch", constraints.ks_sketch, None, OUT),
    Op("snakify_mktsegment", infer.snakify, infer.SNAKIFY, IN),
    Op("exact_dup_props", dedup.exact_dups, dedup.EXACT_DUPS, IN),
    Op("unigram_jaccard_docs", dedup.unigram_jaccard, dedup.UNIGRAM_JACCARD,
       IN),
    Op("token_stats_docs", text.token_stats, text.TOKEN_STATS, IN),
    Op("lang_id_docs", text.lang_id, text.LANG_ID, IN),
    Op("quality_docs", text.quality, text.QUALITY, IN),
    Op("pii_docs", text.pii, text.PII, IN),
    Op("repetition_docs", text.repetition, text.REPETITION, IN),
    Op("contamination_docs", text.contamination, text.CONTAMINATION, IN),
    Op("dup_span_census_docs", text.span_census, text.SPAN_CENSUS, IN),
    Op("curation_docs", text.curation, text.CURATION, IN),
    Op("source_mix_docs", text.source_mix, text.SOURCE_MIX, IN),
    Op("cosine_topk_embeddings", dedup.cosine_topk, dedup.COSINE_TOPK, IN),
    Op("drift_price_by_returnflag", constraints.drift, constraints.DRIFT,
       IN),
    Op("moment_drift_quantity", constraints.moment_drift,
       constraints.MOMENT_DRIFT, IN),
    Op("completeness_orders", constraints.completeness,
       constraints.COMPLETENESS, IN),
    Op("fd_lineitem_order_returnflag", constraints.fd, constraints.FD, IN),
    Op("png_decode_features", media.png, media.PNG, IN),
    Op("jpeg_decode_features", media.jpeg, media.JPEG, IN),
    Op("wav_decode_features", media.wav, media.WAV, IN),
    Op("avi_frame_features", media.avi, media.AVI, IN),
    Op("mjpeg_frame_features", media.mjpeg, media.MJPEG, OUT),
    Op("progressive_jpeg_features", media.progressive_jpeg,
       media.PROGRESSIVE_JPEG, OUT),
    Op("minhash_pairs_docs", dedup.minhash_pairs, dedup.MINHASH_PAIRS, IN),
    Op("near_dup_clusters_docs", dedup.clusters, dedup.CLUSTERS, IN),
    Op("simhash_neardup_docs", dedup.simhash_pairs, dedup.SIMHASH_PAIRS, IN),
    Op("ivf_topk_embeddings", dedup.ivf_topk, dedup.IVF_TOPK, IN),
    Op("embedding_neardup_pairs", dedup.embedding_pairs,
       dedup.EMBEDDING_PAIRS, IN),
    Op("knn_join_embeddings", dedup.knn_join, dedup.KNN_JOIN, IN),
    Op("dedup_keep_list_docs", dedup.keep_list, dedup.KEEP_LIST, IN),
    Op("fingerprint_winnow_docs", text.winnow, text.WINNOW, IN),
    Op("stratified_sample_docs", sampling.stratified, sampling.STRATIFIED,
       IN),
    Op("pack_sequences_docs", sampling.pack, sampling.PACK, IN),
    Op("quality_topk_per_source", sampling.quality_topk,
       sampling.QUALITY_TOPK, IN),
    Op("hash_split_docs", sampling.hash_split, sampling.HASH_SPLIT, IN),
    Op("domain_mix_plan_docs", sampling.mix_plan, sampling.MIX_PLAN, IN),
    # twins of entries above; a twin stays while it covers what no other
    # entry does: bench.py times cname; acctbal reaches the -32768
    # encasing branch; distributed runs the past-the-guard plan; no
    # other entry pins the simhash fingerprints or the content md5
    Op("string_profile_cname", infer.cname_profile, infer.CNAME_PROFILE,
       OUT),
    Op("numeric_profile_acctbal", infer.acctbal_profile,
       infer.ACCTBAL_PROFILE, OUT),
    Op("duplicate_keys_distributed", infer.source_key_dupes_distributed,
       infer.SOURCE_KEY_DUPES, OUT),
    Op("simhash_fp_docs", dedup.simhash_fps, dedup.SIMHASH_FPS, OUT),
    Op("fingerprint_md5_docs", text.content_md5, text.CONTENT_MD5, OUT),
)


def queries() -> dict[str, Query]:
    ordered = sorted(REGISTRY, key=lambda op: not op.window)
    return {op.name: op.query for op in ordered}


def oracle_sql() -> dict[str, str]:
    return {op.name: op.oracle for op in REGISTRY if op.oracle is not None}
