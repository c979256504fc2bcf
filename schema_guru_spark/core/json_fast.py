"""Fast JSON parsing for the executor hot path.

``loads`` uses orjson (Rust, ~4x faster than stdlib json on small
documents) when available, falling back to stdlib on any orjson
failure:

  - documents stdlib accepts but orjson rejects (NaN/Infinity
    literals) still parse via the fallback;
  - true parse failures re-raise from the STDLIB attempt, so error
    messages recorded in violation rows are byte-identical whether or
    not orjson is installed.

Known divergence: integers beyond 64 bits parse as (lossy) float64
under orjson where stdlib returns an exact Python int — orjson does
not raise, so the fallback cannot catch it. Out of scope by reference
semantics: schema-guru encases all integer ranges into Int64
(Helpers.scala:156-163), so values past int64 were never representable
in the output schema anyway. Every distributed inference path (batch,
validation scan and keyed stream) parses through here, via
core/accumulate_batch.fold_keyed; only the single-document kernel
entry point (core/microschema derive_text) stays on stdlib json.
"""

from __future__ import annotations

import json as _json

try:
    import orjson as _orjson
except ImportError:  # pragma: no cover - baked into this environment
    _orjson = None

if _orjson is None:
    loads = _json.loads
else:
    _fast = _orjson.loads
    _slow = _json.loads

    def loads(s):
        try:
            return _fast(s)
        except (ValueError, TypeError):
            # rare path: stdlib either parses what orjson refused
            # (big ints, NaN) or raises the canonical error
            return _slow(s)
