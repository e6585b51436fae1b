"""Round-11 plan-evidence pins (VERDICT r10 item 8: every plan claim in the
optimization log must cite a grep-able count against the checked-in dump).

Two layers:

- dump pins: the counts OPTIMIZATION_r11.md quotes are asserted against the
  committed ``plans/r11`` captures, so the narrative and the artifacts cannot
  drift apart (the r10 verdict caught a "8 Exchanges" claim whose dump
  grepped at 34).
- live pins: the same shape properties are asserted against the CURRENT
  plans, so a code change that silently regresses the optimization (e.g. the
  cosine reverting to a struct fold, or the ANN join width falling back to
  AQE coalescing) fails here even though every oracle would still pass.
"""

from __future__ import annotations

import re
from pathlib import Path

R11 = Path(__file__).resolve().parent.parent / "plans" / "r11"


def _count(name: str, token: str) -> int:
    return (R11 / name).read_text().count(token)


def test_dump_cosine_fold_counts():
    """OPTIMIZATION_r11.md §1: sim_knn_join plan goes from ONE struct-
    accumulating fold to THREE primitive folds."""
    assert _count("sim_knn_join_before.txt", "aggregate(") == 1
    assert _count("sim_knn_join_after.txt", "aggregate(") == 3


def test_dump_ann_exchange_counts():
    """OPTIMIZATION_r11.md §3: the explicit join-width repartition and the
    skinny pair dedup ADD exchanges (6 -> 10) while the heavy payload
    exchange disappears — the claim quotes both numbers."""
    assert _count("dedup_embed_ann_before.txt", "Exchange") == 6
    assert _count("dedup_embed_ann_after.txt", "Exchange") == 10


def _folds(text: str) -> list[str]:
    """The full text of every ``aggregate(...)`` fold in a plan dump."""
    out = []
    for m in re.finditer(r"aggregate\(", text):
        depth, i = 0, m.end() - 1
        while True:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
            if depth == 0:
                break
        out.append(text[m.start() : i])
    return out


def _struct_folds(text: str) -> list[str]:
    """Folds whose accumulator or merge builds a struct (the pre-r11 cosine
    carried (d, na, nb) through one ``struct(...)``/``named_struct`` fold)."""
    return [f for f in _folds(text) if re.search(r"\b(named_)?struct\(", f)]


def test_dump_struct_fold_detected():
    """The struct-fold check below flags the pre-r11 cosine in its dump."""
    assert len(_struct_folds((R11 / "sim_knn_join_before.txt").read_text())) == 1
    assert _struct_folds((R11 / "sim_knn_join_after.txt").read_text()) == []


def test_live_cosine_is_three_primitive_folds(spark):
    from hudi_examples_spark.operators.llm_pipeline import sim_knn_join
    from hudi_examples_spark.plans.inspect import explain_str
    from tests.conftest import SF_SMALL

    text = explain_str(sim_knn_join(spark, SF_SMALL), "formatted")
    assert text.count("aggregate(") == 3, "cosine must stay 3 primitive folds"
    assert _struct_folds(text) == [], "no struct inside the cosine folds"


def test_live_ann_join_width_is_pinned(spark):
    """The bucket-join repartition must stay a user-specified width
    (REPARTITION_BY_NUM) — if it degrades to an AQE-coalescible exchange the
    quadratic rescore serializes again (measured 3.5x slower)."""
    from hudi_examples_spark.operators.llm_pipeline2 import dedup_embed_ann
    from hudi_examples_spark.plans.inspect import explain_str
    from tests.conftest import SF_SMALL

    text = explain_str(dedup_embed_ann(spark, SF_SMALL), "formatted")
    assert "REPARTITION_BY_NUM" in text
    # and the pair dedup must shuffle scores, not embeddings: no exchange row
    # may carry two array payloads after the join
    for m in re.finditer(r"Exchange hashpartitioning\(\[?d1", text):
        window = text[m.start() : m.start() + 400]
        assert "emb" not in window, "pair dedup exchange must not carry embeddings"


def test_live_plane_literals_parse_bit_exact(spark):
    """The LSH plane matrices ride ONE SQL-parsed literal; parsing must be
    IEEE-bit-exact for every plane value actually used (incl. e-notation)."""
    import struct

    from pyspark.sql import functions as F

    from hudi_examples_spark.functions.vectors import _planes_sql
    from hudi_examples_spark.operators.llm_pipeline import _PLANES
    from hudi_examples_spark.operators.llm_pipeline2 import _TABLES

    for planes in [_PLANES, *_TABLES]:
        got = (
            spark.range(1)
            .select(F.expr(_planes_sql(planes)).alias("p"))
            .collect()[0]["p"]
        )
        flat_got = [struct.pack("d", x) for row in got for x in row]
        flat_want = [struct.pack("d", float(x)) for row in planes for x in row]
        assert flat_got == flat_want
