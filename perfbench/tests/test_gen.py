import hashlib
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen

SIZES = {"events": 3000, "documents": 400}

# the driver corpus's Arrow schema (TESTDATA.md), field by field
SCHEMAS = {
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
}


def _digests(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.glob("*.parquet"))}


def test_same_seed_gives_identical_bytes(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, **SIZES)
    gen.generate(str(tmp_path / "b"), 7, **SIZES)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")


def test_other_seed_gives_other_data(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, **SIZES)
    gen.generate(str(tmp_path / "b"), 8, **SIZES)
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    for t in ("events", "documents"):
        assert a[f"{t}.parquet"] != b[f"{t}.parquet"]


def test_resizing_one_table_keeps_the_others(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, **SIZES)
    gen.generate(str(tmp_path / "b"), 7, **{**SIZES, "events": 5000})
    a, b = _digests(tmp_path / "a"), _digests(tmp_path / "b")
    assert a["documents.parquet"] == b["documents.parquet"]
    assert a["events.parquet"] != b["events.parquet"]


def test_schema_layout_and_seed_record(tmp_path):
    manifest = gen.generate(str(tmp_path), 3, **SIZES)
    assert manifest["seed"] == 3
    assert json.loads((tmp_path / "manifest.json").read_text())["seed"] == 3
    for name, fields in SCHEMAS.items():
        f = pq.ParquetFile(tmp_path / f"{name}.parquet")
        assert f.metadata.num_row_groups == 1
        assert [(x.name, x.type) for x in f.schema_arrow] == fields
        assert f.schema_arrow.metadata[b"perfbench.seed"] == b"3"
    assert manifest["rows"] == {**SIZES, "nation": 25, "region": 5}


def test_events_are_time_ordered_with_item_props(tmp_path):
    gen.generate(str(tmp_path), 1, events=2000)
    ev = pq.read_table(tmp_path / "events.parquet").to_pandas()
    assert ev.ts.is_monotonic_increasing
    assert set(ev.event_type) == {"click", "view", "purchase", "signup", "error"}
    assert ev.props.str.fullmatch(r'\{"k": \d+\}').all()


def test_documents_carry_the_stated_near_duplicate_share(tmp_path):
    gen.generate(str(tmp_path), 1, documents=4000)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    dups = docs[docs.text.str.endswith(" dup")]
    assert len(dups) / len(docs) == pytest.approx(gen.NEAR_DUP_SHARE, abs=0.015)
    originals = set(docs.text)
    # every near-duplicate is an earlier document plus one token
    assert all(t[: -len(" dup")] in originals for t in dups.text)
    assert (docs.n_chars == docs.text.str.len()).all()

