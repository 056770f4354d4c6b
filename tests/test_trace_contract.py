"""The benchmark's traced run wraps engine methods by class attribute
and the block-max kernel by module attribute (perfbench/layers.py). A
query must still pass through every wrapped layer: a method moved off
its class, or a kernel imported by name instead of called through its
module, would silently drop spans."""

import os
import sys

PERFBENCH = os.path.join(os.path.dirname(__file__), "..", "perfbench")


def test_query_response_records_every_layer(engine, fixture_queries):
    sys.path.insert(0, os.path.abspath(PERFBENCH))
    try:
        import layers
        import spans
    finally:
        sys.path.pop(0)
    tracer = spans.Tracer()
    undo = layers.install(tracer)
    try:
        resp = engine.query_response(
            fixture_queries[1], option_name="bm25", k=10
        )
    finally:
        spans.unwrap(undo)
    assert resp["textResult"]
    names = {s.name for s in tracer.spans}
    for layer in ("search", "term_cache", "lexicon", "score", "topk_merge",
                  "hydrate"):
        assert layer in names, (layer, sorted(names))
