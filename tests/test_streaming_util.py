"""The shared drain protocol and fragment layout (streaming/util.py):
the batch tag is pinned byte for byte and is per checkpoint; every
fragment store's apply function is idempotent under a duplicate tag;
and the protocol has one home in the source tree."""

from __future__ import annotations

import os
import pathlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from convoy_spark.streaming import (
    decontam,
    embstats,
    eventfunnel,
    hardneg,
    heavyhitters,
    indexdrift,
    ivm,
    mixture,
    pack,
    pqencode,
    pqretrain,
    scd,
    suffixrepeat,
)
from convoy_spark.streaming.util import batch_tag, drain, stream_parquet
from convoy_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
STREAMING_DIR = (
    pathlib.Path(__file__).resolve().parents[1] / "convoy_spark" / "streaming"
)


def test_batch_tag_format_is_pinned():
    # Stores on disk are keyed by this exact string: a changed format
    # would turn the replay of an old epoch into a second partition.
    assert batch_tag("/ck/drain-a", 3) == "bf57d855f69b8ae6-3"


def test_drain_tag_is_per_checkpoint(spark, tmp_path):
    landing = str(tmp_path / "landing")
    spark.range(4).withColumnRenamed("id", "doc_id").coalesce(1).write.parquet(
        landing
    )
    seen: dict[str, list[str]] = {}
    for name in ("ck-a", "ck-b"):
        ck = str(tmp_path / name)
        seen[name] = []
        drain(
            stream_parquet(spark, landing, "doc_id long"),
            ck,
            lambda b, tag, out=seen[name]: out.append(tag),
        )
        assert seen[name] == [batch_tag(ck, 0)]
    assert batch_tag(str(tmp_path / "ck-a"), 0) == seen["ck-a"][0]
    assert seen["ck-a"] != seen["ck-b"]


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").filter("doc_id < 60")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        "vec_id < 120"
    )


def _frozen_codebook(spark, state):
    pqencode.freeze_codebook(
        _emb(spark).select("vec_id", "embedding"), state, ks=8, iters=2
    )


def _case_embstats(spark, state):
    batch = _emb(spark).select("vec_id", "embedding")
    return lambda tag: embstats.apply_embstats_batch(batch, state, tag)


def _case_pqencode(spark, state):
    _frozen_codebook(spark, state)
    batch = _emb(spark).select("vec_id", "embedding")
    return lambda tag: pqencode.apply_pqencode_batch(batch, state, tag)


def _case_pqretrain(spark, state):
    _frozen_codebook(spark, state)
    batch = _emb(spark).select("vec_id", "embedding", "label")
    return lambda tag: pqretrain.apply_pqretrain_batch(batch, state, tag)


def _case_hardneg(spark, state):
    _frozen_codebook(spark, state)
    emb = _emb(spark).select("vec_id", "embedding")
    hardneg.freeze_queries(emb.filter("vec_id < 4"), state)
    batch = emb.filter("vec_id >= 4")
    return lambda tag: hardneg.apply_hardneg_batch(spark, batch, state, tag)


def _case_decontam(spark, state):
    docs = _docs(spark).select("doc_id", "text")
    decontam.freeze_eval_filter(docs.filter("doc_id < 5"), state)
    return lambda tag: decontam.apply_decontam_batch(spark, docs, state, tag)


def _case_eventfunnel(spark, state):
    batch = load_table(spark, SF_DIR, "events").filter("user_id < 20")
    return lambda tag: eventfunnel.apply_funnel_batch(batch, state, tag)


def _case_scd(spark, state):
    batch = (
        load_table(spark, SF_DIR, "events")
        .filter("user_id < 20")
        .select("event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type")
    )
    return lambda tag: scd.apply_scd_batch(batch, state, tag)


def _case_ivm(spark, state):
    batch = load_table(spark, SF_DIR, "lineitem").filter("l_orderkey < 200")
    return lambda tag: ivm.apply_ivm_batch(batch, state, tag)


def _case_heavyhitters(spark, state):
    batch = _docs(spark).select("doc_id", "text")
    return lambda tag: heavyhitters.apply_hh_batch(batch, state, tag)


def _case_mixture(spark, state):
    batch = _docs(spark).select("doc_id", "source")
    targets = {"src1": 0.5, "src3": 0.3, "src7": 0.2}
    return lambda tag: mixture.apply_mixture_batch(
        batch, state, tag, targets, feedback=True
    )


def _case_pack(spark, state):
    batch = _docs(spark).select("doc_id", "text")
    return lambda tag: pack.apply_pack_batch(batch, state, tag)


def _case_indexdrift(spark, state):
    batch = _docs(spark).select("doc_id", "text")
    return lambda tag: indexdrift.apply_index_drift_batch(
        spark, batch, state, tag
    )


def _case_suffixrepeat(spark, state):
    batch = _docs(spark).select("doc_id", "text")
    return lambda tag: suffixrepeat.apply_suffix_batch(spark, batch, state, tag)


FRAGMENT_STORES = {
    f.__name__.removeprefix("_case_"): f
    for f in (
        _case_decontam,
        _case_embstats,
        _case_eventfunnel,
        _case_hardneg,
        _case_heavyhitters,
        _case_indexdrift,
        _case_ivm,
        _case_mixture,
        _case_pack,
        _case_pqencode,
        _case_pqretrain,
        _case_scd,
        _case_suffixrepeat,
    )
}


def _store_rows(state: str) -> dict[str, list[dict]]:
    """Every parquet directory under ``state`` → its sorted rows."""
    out = {}
    for root, _dirs, files in os.walk(state):
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts:
            rows = [
                r
                for f in parts
                for r in pq.read_table(os.path.join(root, f)).to_pylist()
            ]
            out[os.path.relpath(root, state)] = sorted(rows, key=repr)
    return out


@pytest.mark.parametrize("store", sorted(FRAGMENT_STORES))
def test_duplicate_tag_replay_leaves_store_unchanged(spark, tmp_path, store):
    state = str(tmp_path / "state")
    apply = FRAGMENT_STORES[store](spark, state)
    apply("t-0")
    once = _store_rows(state)
    assert any(once.values()), "the batch wrote no rows"
    apply("t-0")  # at-least-once replay of the same epoch
    assert _store_rows(state) == once


def _files_containing(needle: str) -> set[str]:
    return {
        p.name for p in STREAMING_DIR.glob("*.py") if needle in p.read_text()
    }


def test_drain_protocol_lives_in_util_only():
    """No Spark session: the tag hash, the partition name and the
    foreachBatch driver each have one home, so hand-rolled copies of
    the drain cannot grow back beside streaming/util.py."""
    assert _files_containing("blake2s") == {"util.py"}
    assert _files_containing('f"batch-{') == {"util.py"}
    assert _files_containing(".foreachBatch(") == {
        "stateful_graph.py",
        "util.py",
    }
