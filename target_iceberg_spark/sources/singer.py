"""Singer JSONL message source — the reference's ingestion surface.

The reference (a Meltano Singer target) reads JSONL messages on stdin:
SCHEMA declares a stream's JSON Schema, RECORD carries one row, STATE
is a bookmark to re-emit once preceding records are durably written,
ACTIVATE_VERSION signals a full refresh (reference target.py:6,12 —
SDK-inherited listen loop; sinks.py:20-41 — per-stream buffering with
``max_size = 10000``, sinks.py:18).

Two ingestion paths, same semantics:

  * :class:`SingerTarget` — the parity path. A driver-side listen loop:
    demux messages per stream, buffer up to ``max_batch_size`` raw
    RECORD lines, drain each full buffer (and all buffers at STATE/EOF)
    through the writer as one Spark batch. Matches the reference's
    lifecycle (SURVEY §3) including at-least-once STATE emission.

  * :func:`demux_singer_file` — the scale path the reference lacks.
    For bulk backfills (a 100 TB pile of Singer JSONL on object
    storage) the listen loop's driver-side buffering is the bottleneck,
    so instead: read the files as a distributed text DataFrame, filter
    RECORD lines per stream, and parse them executor-side with
    ``from_json`` under the translated schema. One Spark job per
    stream, fully parallel, no driver round-trip.

RECORD and BATCH payloads are typed by one JVM-side parse,
:func:`parse_json_rows`. A drain hands its buffered lines to Spark as a
single Arrow string column (the reference hands its batch over as Arrow
too, sinks.py:82), so no Python rows are pickled and no Python worker
is started; BATCH manifest files are read as text and go through the
same parse. One malformed-record policy covers both: ``from_json`` runs
in FAILFAST mode, a value that does not fit the stream schema (``"x"``
for an integer, ``2024-02-30``, a missing non-nullable field) fails the
write, and the failure is raised as a ``ValueError`` naming the stream.
Nothing lands and no STATE passes it.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, TimestampType

from target_iceberg_spark.bounded import bounded_collect
from target_iceberg_spark.schema import json_schema_to_struct_type
from target_iceberg_spark.writer import StreamWriter

DEFAULT_MAX_BATCH_SIZE = 10_000  # reference sinks.py:18

# FAILFAST: a value that does not fit its field fails the job instead of
# turning into a silent NULL. Dates are RFC 3339 full-dates only: Spark's
# lenient fallback would read "20240203" as the year 20240203.
_PARSE_OPTIONS = {"mode": "FAILFAST", "dateFormat": "yyyy-MM-dd"}
# error classes of a parse failure: from_json's, and the null guard's
_PARSE_ERRORS = ("MALFORMED_RECORD_IN_PARSING", "USER_RAISED_EXCEPTION")


def parse_json_rows(
    text: DataFrame, schema: StructType, envelope: bool = False, extracted: bool = False
) -> DataFrame:
    """Type the JSON in ``text``'s ``value`` column as rows of ``schema``.

    ``envelope``: each value is a whole RECORD message and the row is its
    ``record``; otherwise each value is a bare record (a BATCH file
    line). ``extracted`` (envelope only) adds ``_sdc_extracted_at``: the
    message's ``time_extracted``, or the current time when it has none
    (the SDK's ``time_extracted or now``).

    ``from_json`` ignores nullability, so each non-nullable top-level
    field gets a ``raise_error`` guard."""
    if envelope:
        parts = [StructField("record", schema)]
        if extracted:
            parts.append(StructField("time_extracted", TimestampType()))
        parsed_schema = StructType(parts)
    else:
        parsed_schema = schema
    parsed = text.select(F.from_json("value", parsed_schema, _PARSE_OPTIONS).alias("m"))
    row = F.col("m.record") if envelope else F.col("m")
    cols = []
    for f in schema.fields:
        c = row[f.name]
        if not f.nullable:
            c = F.when(c.isNull(), F.raise_error(
                F.lit(f"non-nullable field {f.name!r} is missing or null"))).otherwise(c)
        cols.append(c.alias(f.name))
    if envelope and extracted:
        cols.append(F.coalesce(F.col("m.time_extracted"), F.current_timestamp())
                    .alias("_sdc_extracted_at"))
    return parsed.select(*cols)


def _parse_failure(exc: Py4JJavaError | PySparkException) -> str | None:
    """The line of a Spark error that reports a parse failure, if any."""
    for line in str(exc).splitlines():
        for marker in _PARSE_ERRORS:
            i = line.find(f"[{marker}")
            if i >= 0:
                return line[i:].strip()
    return None


@dataclass
class _StreamState:
    """Per-stream sink state (mirrors one reference IcebergSink,
    sinks.py:20-34: stream_name + schema + key_properties + buffer)."""

    name: str
    schema: StructType
    key_properties: list[str]
    buffer: list[str] = field(default_factory=list)  # raw RECORD lines
    records_written: int = 0
    batches_written: int = 0
    version: int | None = None  # Singer table version (ACTIVATE_VERSION)
    wrote_untagged: bool = False  # batches drained before any version known


class SingerTarget:
    """Listen-loop target: Singer JSONL in, engine tables out.

    ``upsert_on_keys=True`` turns keyed streams into last-write-wins
    merges (engine extension); False replicates the reference's
    append-only behavior exactly (sinks.py:25,100).
    """

    def __init__(
        self,
        spark: SparkSession,
        writer: StreamWriter,
        max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
        upsert_on_keys: bool = False,
        state_callback: Callable[[dict[str, Any]], None] | None = None,
    ):
        self.spark = spark
        self.writer = writer
        self.max_batch_size = max_batch_size
        self.upsert_on_keys = upsert_on_keys
        self.state_callback = state_callback
        self.streams: dict[str, _StreamState] = {}
        self.emitted_states: list[dict[str, Any]] = []

    # -- message handling ------------------------------------------------
    def process_line(self, line: str) -> None:
        line = line.strip()
        if not line:
            return
        msg = json.loads(line)
        mtype = msg.get("type")
        if mtype == "SCHEMA":
            self._handle_schema(msg)
        elif mtype == "RECORD":
            self._handle_record(msg, line)
        elif mtype == "STATE":
            # STATE only re-emitted after preceding records are durable:
            # at-least-once, like the SDK (SURVEY §2 A15).
            self._drain_all()
            state = msg.get("value", {})
            self.emitted_states.append(state)
            if self.state_callback:
                self.state_callback(state)
        elif mtype == "ACTIVATE_VERSION":
            self._handle_activate(msg)
        elif mtype == "BATCH":
            self._handle_batch(msg)
        # unknown message types are ignored, as in the Singer spec

    def run(self, lines: Iterable[str]) -> dict[str, dict[str, int]]:
        for line in lines:
            self.process_line(line)
        self._drain_all()
        return {
            name: {"records": s.records_written, "batches": s.batches_written}
            for name, s in self.streams.items()
        }

    # -- internals -------------------------------------------------------
    def _handle_schema(self, msg: dict[str, Any]) -> None:
        name = msg["stream"]
        schema = json_schema_to_struct_type(msg["schema"])
        key_properties = list(msg.get("key_properties") or [])
        existing = self.streams.get(name)
        if existing is not None:
            # Taps routinely re-emit SCHEMA mid-sync. Replacing the
            # stream state here would reset version / records_written /
            # wrote_untagged, and a later ACTIVATE_VERSION would then
            # look like a start-of-sync announcement and silently skip
            # retiring older-version rows. Drain under the old schema,
            # then swap schema/keys in place, keeping sync progress.
            if existing.buffer:
                self._drain(existing)
            existing.schema = schema
            existing.key_properties = key_properties
            return
        self.streams[name] = _StreamState(
            name=name, schema=schema, key_properties=key_properties
        )

    def _handle_record(self, msg: dict[str, Any], line: str) -> None:
        name = msg["stream"]
        if name not in self.streams:
            raise ValueError(f"RECORD for stream {name!r} before its SCHEMA")
        if not isinstance(msg.get("record"), dict):
            raise ValueError(f"RECORD for stream {name!r} has no record object")
        stream = self.streams[name]
        if msg.get("version") is not None:
            stream.version = int(msg["version"])
        # the raw line is typed at drain time, in the JVM; its optional
        # time_extracted feeds _sdc_extracted_at (SDK metadata, SURVEY §2
        # A12) when the writer stamps metadata
        stream.buffer.append(line)
        if len(stream.buffer) >= self.max_batch_size:
            self._drain(stream)

    def _handle_activate(self, msg: dict[str, Any]) -> None:
        """Singer ACTIVATE_VERSION (the reference parses-but-ignores it —
        SURVEY §2 A16): activating version v completes a full refresh, so
        rows of OLDER versions are retired. Batches of the activated
        version already on disk are preserved (never an overwrite-with-
        current-buffer, which would destroy earlier-drained batches of
        the same sync). Rows written before any version was known can't
        be attributed — they are left in place rather than guessed at."""
        stream = self.streams.get(msg.get("stream", ""))
        version = msg.get("version")
        if stream is None or version is None:
            return
        version = int(version)
        if stream.version is None and not stream.buffer and stream.records_written == 0:
            # start-of-sync announcement: just adopt the version
            stream.version = version
            return
        if stream.version is None:
            stream.version = version  # tag the still-buffered rows
        self._drain(stream)
        if stream.wrote_untagged:
            return  # ambiguous history — keep data, don't guess
        try:
            cols = self.writer.read(stream.name).columns
        except Exception:
            return  # nothing on disk yet
        if "_sdc_table_version" not in cols:
            return  # pre-existing unversioned table — keep data
        self.writer.delete_where(
            stream.name, f"_sdc_table_version < {version}"
        )

    def _handle_batch(self, msg: dict[str, Any]) -> None:
        """Singer SDK ``BATCH`` message (SURVEY §2 A1): the tap has
        already written records to files — JSONL, one bare record dict
        per line — and sends a manifest of paths. The reference's SDK
        parses these; this engine routes them down the distributed bulk
        path: the files are read as a text DataFrame and typed
        executor-side by :func:`parse_json_rows`, the parse a RECORD
        drain uses, skipping the driver-side record buffer entirely —
        which is the point of BATCH at scale."""
        name = msg.get("stream", "")
        if name not in self.streams:
            raise ValueError(f"BATCH for stream {name!r} before its SCHEMA")
        stream = self.streams[name]
        fmt = (msg.get("encoding") or {}).get("format", "jsonl")
        if fmt != "jsonl":
            raise ValueError(f"unsupported BATCH encoding format: {fmt!r}")
        manifest = msg.get("manifest") or []
        if not manifest:
            return
        # drain buffered RECORDs first so per-stream arrival order holds
        self._drain(stream)
        # gzip et al. are handled by the text source via file extension
        paths = [p.removeprefix("file://") for p in manifest]
        text = (
            self.spark.read.text(paths)
            # trim: a whitespace-only separator line is blank, not a
            # malformed record
            .where(F.trim(F.col("value")) != "")
        )
        # FAILFAST: every non-blank line either lands or fails the write,
        # so the line count is the record count
        self._write_df(
            stream,
            parse_json_rows(text, stream.schema),
            text.count(),
            f"BATCH for stream {name!r}: a line in {paths}",
        )

    def _write_df(
        self, stream: _StreamState, df: DataFrame, n_records: int, source: str
    ) -> None:
        """Write one parsed batch. A parse failure surfaces here, when the
        write runs the parse; it is raised as a ValueError that names
        ``source``."""
        if stream.version is not None:
            df = df.withColumn(
                "_sdc_table_version", F.lit(stream.version).cast("long")
            )
        else:
            stream.wrote_untagged = True
        try:
            if self.upsert_on_keys and stream.key_properties:
                self.writer.upsert(df, stream.name, stream.key_properties)
            else:
                self.writer.append(df, stream.name)
        except (Py4JJavaError, PySparkException) as exc:
            detail = _parse_failure(exc)
            if detail is None:
                raise
            raise ValueError(
                f"{source} failed to parse under the stream schema: {detail}"
            ) from exc
        stream.records_written += n_records
        stream.batches_written += 1

    def _drain(self, stream: _StreamState) -> None:
        if not stream.buffer:
            return
        text = self.spark.createDataFrame(
            pa.table({"value": pa.array(stream.buffer, pa.string())})
        )
        add_meta = getattr(self.writer.config, "add_record_metadata", False)
        n = len(stream.buffer)
        # clear the buffer only AFTER the write succeeds: a failed write
        # leaves the records buffered so the caller can retry the drain
        # (at-least-once, never silent loss)
        self._write_df(
            stream,
            parse_json_rows(text, stream.schema, envelope=True, extracted=add_meta),
            n,
            f"RECORD for stream {stream.name!r}: one of {n} buffered records",
        )
        stream.buffer = []

    def _drain_all(self) -> None:
        for stream in self.streams.values():
            self._drain(stream)


def demux_singer_file(
    spark: SparkSession, path: str, schemas: dict[str, dict[str, Any]] | None = None
) -> dict[str, DataFrame]:
    """Distributed bulk demux of Singer JSONL file(s).

    ``schemas``: stream -> Singer JSON Schema. When None, SCHEMA
    messages are collected from the file head driver-side (they are a
    handful of lines; the RECORD volume stays distributed).

    Returns one DataFrame per stream, parsed executor-side via
    ``from_json`` — the 100 TB path: no driver buffering, text-splitting
    and JSON parsing scale with executors.
    """
    text = spark.read.text(path)
    if schemas is None:
        # key-order-agnostic: parse the type field, don't prefix-match the
        # serialization (taps order JSON keys however they like)
        schema_rows = bounded_collect(
            text.where(F.get_json_object("value", "$.type") == "SCHEMA"),
            cap=10_000,
            why="one SCHEMA message per Singer stream (streams, not rows)",
            structural=False,
        )
        schemas = {}
        for row in schema_rows:
            msg = json.loads(row["value"])
            schemas[msg["stream"]] = msg["schema"]

    out: dict[str, DataFrame] = {}
    for stream, json_schema in schemas.items():
        struct = json_schema_to_struct_type(json_schema)
        payload = F.get_json_object("value", "$.record")
        records = (
            text.select(F.from_json("value", "type STRING, stream STRING").alias("m"),
                        F.col("value"))
            .where((F.col("m.type") == "RECORD") & (F.col("m.stream") == stream))
            # corrupt RECORD lines (unparseable payload) are dropped here
            # instead of surfacing as all-null rows — the engine's
            # equivalent of the SDK's per-record validation (SURVEY §2 A2)
            .where(payload.isNotNull())
            .select(F.from_json(payload, struct).alias("r"))
            .where(F.col("r").isNotNull())
            .select("r.*")
        )
        out[stream] = records
    return out
