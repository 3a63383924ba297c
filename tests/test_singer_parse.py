"""How Singer RECORD and BATCH payloads are typed on the way into a
table: exact values for the formats taps send, and one loud policy for
records that do not fit the stream schema."""

from __future__ import annotations

import json
from datetime import date, datetime, timedelta

import pytest

from target_iceberg_spark.sources.singer import SingerTarget
from target_iceberg_spark.writer import StreamWriter, WriterConfig

EDGE_SCHEMA = {
    "type": "SCHEMA",
    "stream": "edge",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "at": {"type": ["string", "null"], "format": "date-time"},
            "day": {"type": ["string", "null"], "format": "date"},
            "meta": {
                "type": ["object", "null"],
                "properties": {
                    "seen": {"type": ["string", "null"], "format": "date-time"},
                    "n": {"type": ["integer", "null"]},
                },
            },
            "tags": {"type": ["array", "null"], "items": {"type": ["string", "null"]}},
            "name": {"type": ["string", "null"]},
            "amount": {"type": ["number", "null"]},
        }
    },
}


def _writer(spark, tmp_path, **cfg):
    return StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path), **cfg), mode="parquet"
    )


def _rec(record, **envelope):
    return json.dumps({"type": "RECORD", "stream": "edge", "record": record, **envelope})


def _rows(writer, stream="edge"):
    return {r["id"]: r for r in writer.read(stream).collect()}


def test_record_values_land_exactly(spark, tmp_path):
    """Every date-time form a tap sends lands as the same UTC instant;
    formatted strings below the top level stay strings."""
    writer = _writer(spark, tmp_path, add_record_metadata=True)
    lines = [
        json.dumps(EDGE_SCHEMA),
        _rec({"id": 1, "at": "2024-02-03T04:05:06Z"},
             time_extracted="2024-05-06T07:08:09+02:00"),
        _rec({"id": 2, "at": "2024-02-03T04:05:06+02:00"}),
        _rec({"id": 3, "at": "2024-02-03T04:05:06-05:30"}),
        _rec({"id": 4, "at": "2024-02-03T04:05:06.123456Z"}),
        _rec({"id": 5, "at": "2024-02-03T04:05:06"}),  # no zone: UTC
        _rec({"id": 6, "at": "2024-02-03 04:05:06Z"}),
        _rec({"id": 7, "day": "2024-02-29", "meta": {"seen": "2024-02-03T04:05:06Z", "n": 3}}),
        _rec({"id": 8, "tags": ["a", None, "c"]}),
        _rec({"id": 9, "amount": 2.5, "extra": {"ignored": True}}),  # name missing
    ]
    t0 = datetime.now() - timedelta(seconds=1)
    SingerTarget(spark, writer).run(lines)
    t1 = datetime.now() + timedelta(seconds=1)
    rows = _rows(writer)
    assert sorted(rows) == list(range(1, 10))
    at = {i: rows[i]["at"] for i in range(1, 7)}
    assert at == {
        1: datetime(2024, 2, 3, 4, 5, 6),
        2: datetime(2024, 2, 3, 2, 5, 6),
        3: datetime(2024, 2, 3, 9, 35, 6),
        4: datetime(2024, 2, 3, 4, 5, 6, 123456),
        5: datetime(2024, 2, 3, 4, 5, 6),
        6: datetime(2024, 2, 3, 4, 5, 6),
    }
    assert rows[7]["day"] == date(2024, 2, 29)
    assert rows[7]["meta"]["seen"] == "2024-02-03T04:05:06Z"
    assert rows[7]["meta"]["n"] == 3
    assert rows[8]["tags"] == ["a", None, "c"]
    assert rows[9]["amount"] == 2.5 and rows[9]["name"] is None
    assert "extra" not in writer.read("edge").columns
    # time_extracted present: its UTC instant; absent: the drain time
    assert rows[1]["_sdc_extracted_at"] == datetime(2024, 5, 6, 5, 8, 9)
    assert all(t0 <= rows[i]["_sdc_extracted_at"] <= t1 for i in range(2, 10))


def test_missing_non_nullable_field_raises(spark, tmp_path):
    writer = _writer(spark, tmp_path)
    target = SingerTarget(spark, writer)
    with pytest.raises(ValueError):
        target.run([json.dumps(EDGE_SCHEMA), _rec({"at": "2024-02-03T04:05:06Z"})])
    assert not writer.table_exists("edge")


def test_record_without_record_object_raises(spark, tmp_path):
    """All-nullable streams have no guard that would catch it at drain
    time, so the message is rejected when it is read."""
    target = SingerTarget(spark, _writer(spark, tmp_path))
    target.process_line(json.dumps(EDGE_SCHEMA))
    with pytest.raises(ValueError, match="no record object"):
        target.process_line(json.dumps({"type": "RECORD", "stream": "edge"}))
    assert target.streams["edge"].buffer == []


def test_integer_valued_number_lands_as_double(spark, tmp_path):
    """A JSON integer in a ``number`` field is a number (the reference
    accepts it); the row path rejected it as a Python int."""
    writer = _writer(spark, tmp_path)
    SingerTarget(spark, writer).run([json.dumps(EDGE_SCHEMA), _rec({"id": 1, "amount": 5})])
    amount = _rows(writer)[1]["amount"]
    assert amount == 5.0 and isinstance(amount, float)


ACCOUNTS_SCHEMA = {
    "type": "SCHEMA",
    "stream": "accounts",
    "key_properties": ["id"],
    "schema": {"properties": {"id": {"type": ["integer"]},
                              "balance": {"type": ["number", "null"]},
                              "opened": {"type": ["string", "null"], "format": "date"}}},
}


def _batch(*paths):
    return json.dumps({"type": "BATCH", "stream": "accounts",
                       "encoding": {"format": "jsonl"}, "manifest": [str(p) for p in paths]})


@pytest.mark.parametrize("bad_value, upsert", [
    ('"balance": "abc"', False),
    ('"balance": "abc"', True),
    ('"opened": "20240203"', False),  # not a full-date; no year 20240203
])
def test_batch_value_that_does_not_fit_fails_loudly(spark, tmp_path, bad_value, upsert):
    """A BATCH line whose value does not fit its field fails the batch
    and names the stream and files; it never lands as a NULL or a
    wrong value."""
    good, bad = tmp_path / "good.jsonl", tmp_path / "bad.jsonl"
    good.write_text('{"id": 1, "balance": 10.5, "opened": "2024-02-03"}\n')
    bad.write_text('{"id": 2, "balance": 3}\n{"id": 3, %s}\n' % bad_value)
    writer = _writer(spark, tmp_path / "wh")
    target = SingerTarget(spark, writer, upsert_on_keys=upsert)
    target.run([json.dumps(ACCOUNTS_SCHEMA), _batch(good)])
    with pytest.raises(ValueError, match=r"'accounts'.*bad\.jsonl"):
        target.process_line(_batch(bad))
    assert {r["id"]: r["balance"] for r in writer.read("accounts").collect()} == {1: 10.5}
    assert target.streams["accounts"].records_written == 1


def test_malformed_record_fails_drain_and_keeps_buffer(spark, tmp_path):
    """A RECORD that does not fit the schema fails its drain with an
    error naming the stream; the buffer survives for a retry, the table
    is untouched and the STATE after it is not emitted."""
    writer = _writer(spark, tmp_path)
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    target.run([json.dumps(EDGE_SCHEMA), _rec({"id": 1}),
                json.dumps({"type": "STATE", "value": {"n": 1}})])
    target.process_line(_rec({"id": 2}))
    target.process_line(_rec({"id": 3, "at": "2024-02-30T00:00:00Z"}))
    with pytest.raises(ValueError, match="'edge'"):
        target.process_line(json.dumps({"type": "STATE", "value": {"n": 3}}))
    assert len(target.streams["edge"].buffer) == 2
    assert set(_rows(writer)) == {1}
    assert states == [{"n": 1}] and target.emitted_states == [{"n": 1}]


def test_drain_hands_spark_one_arrow_string_column(spark, tmp_path):
    """The drain crosses into the JVM once, as Arrow: no Python rows."""
    import pyarrow as pa

    handed = []

    class Spy:
        def __getattr__(self, name):
            return getattr(spark, name)

        def createDataFrame(self, data, *args, **kwargs):  # noqa: N802
            handed.append(data)
            return spark.createDataFrame(data, *args, **kwargs)

    writer = _writer(spark, tmp_path)
    target = SingerTarget(Spy(), writer)
    target.run([json.dumps(EDGE_SCHEMA), _rec({"id": 1}), _rec({"id": 2})])
    assert len(handed) == 1
    assert isinstance(handed[0], pa.Table)
    assert handed[0].schema == pa.schema([("value", pa.string())])
    assert handed[0].num_rows == 2
