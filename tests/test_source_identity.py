"""Reuse keyed by source identity. The lake is an append-only changelog,
so the same path can gain rows inside one session: every in-session
memo (`io.session_memo`) and every scratch landing (`io.seeded_landing`)
must notice the rewrite instead of serving rows derived from the old
file. Each test works on a private copy of the fixture lake and appends
rows to one of its tables in place."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from test_udf_edges import _compare


def _lake_copy(sf_dir: str, dest) -> str:
    """A writable copy of the fixture lake (copyfile: the fixture files
    are read-only, and their mode must not travel with them)."""
    d = str(dest)
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), os.path.join(d, f))
    return d


def _append_rows(lake: str, table: str, id_col: str, n: int) -> int:
    """Rewrite `<table>.parquet` in place with `n` more rows: copies of
    its first rows under fresh ids (text columns get one extra word, so
    documents gain near-duplicates). Returns the new row count."""
    path = os.path.join(lake, f"{table}.parquet")
    t = pq.read_table(path)
    extra = t.slice(0, n)
    ids = pc.add(extra[id_col], pc.max(t[id_col]).as_py() + 1)
    extra = extra.set_column(extra.schema.get_field_index(id_col), id_col, ids)
    if "text" in extra.column_names:
        text = pc.binary_join_element_wise(extra["text"], "appended", " ")
        extra = extra.set_column(
            extra.schema.get_field_index("text"), "text", text
        )
    grown = pa.concat_tables([t, extra.cast(t.schema)])
    pq.write_table(grown, path)
    return grown.num_rows


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dedup_memos_rebuild_when_documents_are_rewritten(
    spark, sf_dir, tmp_path
):
    # the dedup memos derive from documents.parquet: after it gains rows
    # under the same path, the next grade in the SAME session must see
    # them, and the superseded cached copies must be released, not kept
    # beside the new ones
    lake = _lake_copy(sf_dir, tmp_path / "lake")
    keys = ("dedup_near_minhash", "dedup_containment")
    before = {k: _compare(spark, k, lake) for k in keys}
    held = _persistent_rdds(spark)

    _append_rows(lake, "documents", "doc_id", 60)
    after = {k: _compare(spark, k, lake) for k in keys}
    for k in keys:
        assert sorted(map(str, after[k])) != sorted(map(str, before[k])), k
    assert _persistent_rdds(spark) <= held


def test_bucketed_catalog_check_runs_once_per_session(
    spark, sf_dir, tmp_path, monkeypatch
):
    # the DESCRIBE behind _registered_layout_matches is a catalog round
    # trip: it runs once per table and layout identity in a session,
    # not on every build of the co-located join
    import __spark_entry__ as entry
    from fintech_data_lake_as_code_spark.operators import scale

    lake = _lake_copy(sf_dir, tmp_path / "lake")
    calls: dict[str, int] = {}
    real = scale._registered_layout_matches

    def counting(spark_, table, key, path):
        calls[table] = calls.get(table, 0) + 1
        return real(spark_, table, key, path)

    monkeypatch.setattr(scale, "_registered_layout_matches", counting)
    fn = entry.queries()["join_bucketed_colocated"]
    for _ in range(3):
        fn(spark, lake)
    assert sorted(calls.values()) == [1, 1], calls


def test_landings_reseed_when_their_source_is_rewritten(
    spark, sf_dir, tmp_path
):
    # a landing fingerprints the file it lands, not only the code that
    # derives it: a source regenerated in place reseeds the landing
    # (sentinel swept with the old files) and the new rows are landed
    from fintech_data_lake_as_code_spark.io import load
    from fintech_data_lake_as_code_spark.operators.dedup import _corpus
    from fintech_data_lake_as_code_spark.streaming.queries import (
        _docs_json_dir,
        _events_json_dir,
    )

    lake = _lake_copy(sf_dir, tmp_path / "lake")
    landings = {
        "events": (_events_json_dir, lambda: load(spark, lake, "events")),
        "documents": (_docs_json_dir, lambda: _corpus(spark, lake)),
    }
    sentinels = {}
    for table, (land, _) in landings.items():
        out = land(spark, lake)
        sentinels[table] = os.path.join(out, "_TEST_SENTINEL")
        with open(sentinels[table], "w") as fh:
            fh.write("landed before the rewrite\n")

    _append_rows(lake, "events", "event_id", 100)
    _append_rows(lake, "documents", "doc_id", 60)
    for table, (land, source) in landings.items():
        out = land(spark, lake)
        assert not os.path.exists(sentinels[table]), table
        assert spark.read.json(out).count() == source().count(), table
