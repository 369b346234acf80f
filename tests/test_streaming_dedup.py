"""Streaming ingest dedup (streaming/dedup.py): duplicates are suppressed
across micro-batches via the state store, watermark mode keeps state bounded,
and only the content hash (never text) enters state."""

from __future__ import annotations

import json

from pyspark_cdc_engine.streaming.dedup import dedup_stream_exact


def _write_batch(d, name: str, rows: list[dict]) -> None:
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{name}.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")


DOC_SCHEMA = "doc_id long, text string, ts timestamp"


def _drain(spark, src, ckpt, out, **kwargs):
    """File sink (checkpoint-recoverable, unlike memory) so a later drain
    resumes the SAME state store — the cross-batch property under test."""
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    q = (
        dedup_stream_exact(stream, **kwargs)
        .writeStream.format("parquet")
        .option("path", str(out))
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(str(out))


def test_duplicates_suppressed_across_micro_batches(spark, tmp_path):
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    _write_batch(src, "b0", [
        {"doc_id": 1, "text": "alpha", "ts": "2026-01-01T00:00:00Z"},
        {"doc_id": 2, "text": "beta", "ts": "2026-01-01T00:00:01Z"},
        {"doc_id": 3, "text": "alpha", "ts": "2026-01-01T00:00:02Z"},  # dup in-batch
    ])
    out_dir = tmp_path / "out"
    out = _drain(spark, src, ckpt, out_dir)
    got = {r.doc_id for r in out.collect()}
    assert 2 in got and len(got) == 2  # one alpha, the beta

    # a later drain (same checkpoint = same state store) still remembers alpha
    _write_batch(src, "b1", [
        {"doc_id": 4, "text": "alpha", "ts": "2026-01-01T00:01:00Z"},  # dup cross-batch
        {"doc_id": 5, "text": "gamma", "ts": "2026-01-01T00:01:01Z"},
    ])
    out = _drain(spark, src, ckpt, out_dir)
    assert {r.doc_id for r in out.collect()} == got | {5}


def test_watermarked_mode_dedups_within_horizon(spark, tmp_path):
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    _write_batch(src, "b0", [
        {"doc_id": 1, "text": "doc-x", "ts": "2026-01-01T00:00:00Z"},
        {"doc_id": 2, "text": "doc-x", "ts": "2026-01-01T00:00:30Z"},  # within 10m
        {"doc_id": 3, "text": "doc-y", "ts": "2026-01-01T00:00:40Z"},
    ])
    out = _drain(spark, src, ckpt, tmp_path / "out", event_time_col="ts")
    got = {r.doc_id for r in out.collect()}
    assert 3 in got and len(got) == 2  # one doc-x survivor + doc-y


def test_only_hash_enters_state_schema(spark, tmp_path):
    """The dedup key list is the 16-byte content hash alone — assert via the
    physical plan's dedup operator keys (no text column in state)."""
    src = tmp_path / "src"
    _write_batch(src, "b0", [{"doc_id": 1, "text": "z", "ts": "2026-01-01T00:00:00Z"}])
    stream = spark.readStream.schema(DOC_SCHEMA).json(str(src))
    plan = dedup_stream_exact(stream)._jdf.queryExecution().analyzed().toString()
    dd = [ln for ln in plan.splitlines() if "Deduplicate" in ln]
    assert dd and all("content_md5" in ln and "text" not in ln for ln in dd)


def test_trending_terms_state_survives_micro_batches(spark, tmp_path):
    """streaming/trending.py: per-key Misra-Gries counters live in keyed
    streaming state — a term's count accumulates ACROSS micro-batches, the
    per-key state stays bounded at k counters, and each trigger emits the
    current top items."""
    import json

    from pyspark_cdc_engine.streaming.trending import trending_terms_stream

    src = tmp_path / "in"
    src.mkdir()
    # batch 0: 'alpha' x3, 'beta' x2 on key A; batch 1 adds 'alpha' x2 more
    with open(src / "b0.json", "w") as fh:
        for t in ["alpha", "alpha", "alpha", "beta", "beta", "gamma"]:
            fh.write(json.dumps({"k": "A", "term": t}) + "\n")
        fh.write(json.dumps({"k": "B", "term": "solo"}) + "\n")
    with open(src / "b1.json", "w") as fh:
        for t in ["alpha", "alpha", "beta"]:
            fh.write(json.dumps({"k": "A", "term": t}) + "\n")

    stream = (
        spark.readStream.schema("k string, term string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out = trending_terms_stream(stream, "k", "term", k=4, top=3)
    batches: list[list] = []

    def sink(df, bid):
        rows = df.collect()
        if rows:
            batches.append(sorted(rows, key=lambda r: (r.key, r.rank)))

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # final state for key A: alpha=5, beta=3 — counts crossed the batch
    # boundary through the state store
    final_a = [r for r in batches[-1] if r.key == "A"]
    assert final_a[0].term == "alpha" and final_a[0].est == 5
    assert final_a[1].term == "beta" and final_a[1].est == 3
    assert final_a[0].n_seen == 9
    # every batch emitted at most `top` rows per key, ranked from 1
    for b in batches:
        per_key: dict = {}
        for r in b:
            per_key.setdefault(r.key, []).append(r.rank)
        assert all(ranks == list(range(1, len(ranks) + 1)) for ranks in per_key.values())


def test_trending_terms_ignore_null_terms(spark, tmp_path):
    """Review r5b: null terms are absent fields, not items — they must not
    consume a counter slot, inflate n_seen, or appear in the top-k."""
    import json

    from pyspark_cdc_engine.streaming.trending import trending_terms_stream

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b0.json", "w") as fh:
        for t in ["x", "x", None, "y", None]:
            fh.write(json.dumps({"k": "A", "term": t}) + "\n")
    stream = spark.readStream.schema("k string, term string").json(str(src))
    out = trending_terms_stream(stream, "k", "term", k=2, top=3)
    rows: list = []

    def sink(df, bid):
        rows.extend(df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r.term for r in rows} == {"x", "y"}
    assert all(r.n_seen == 3 for r in rows)
