"""Arrow-vectorized parse stage (the engine's replacement for the
reference's byte-at-a-time VT500 FSM, vtparser.py:246-613).

Design: ``DataFrame.mapInArrow`` — token arrays cross the JVM->Python
boundary as Arrow list<int32> buffers with zero pandas conversion; the
whole batch's token values are decoded to text in ONE C call
(int32 buffer reinterpreted as UTF-32LE), per-doc slices are taken by
list offsets, and all classification is compiled-regex
(functions/ansi.py). No per-row Python UDFs anywhere
(BASELINE.json:15); the only Python-level loop is per-document over the
regex match objects, and the editing replay touches only prompt lines.

The plan shows a single ``MapInArrow`` node fused between the parquet
scan and downstream exchanges — verified by tests/test_plans.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..functions import ansi
from ..schemas import TOKENIZED_DDL, TOKENIZED_SCHEMA, spark_ddl

# The parsed table's contract: what parse_batch returns, and (as DDL)
# what parse_stage declares to Spark.
_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("source", pa.string()),
    ("n_tok", pa.int32()),
    # UTF-8 string, NOT list<int32> UTF-32: the stripped text is ~97%
    # ASCII, so the Arrow string column is ~4x fewer bytes across the
    # Python->JVM boundary (measured 6.3 GB -> 1.6 GB per sf1.0 bench
    # run) and needs no UTF-32 re-encode pass. Consumers treat it as
    # opaque text; n_stripped still counts codepoints.
    ("ansi_stripped", pa.string()),
    ("n_stripped", pa.int32()),
    ("n_events", pa.int32()),
    ("n_csi", pa.int32()),
    ("n_osc", pa.int32()),
    ("n_esc", pa.int32()),
    ("n_dcs", pa.int32()),
    ("n_sgr", pa.int32()),
    ("n_c1", pa.int32()),
    ("seq_hist", pa.map_(pa.string(), pa.int32())),
    ("severity", pa.string()),
    ("n_debug", pa.int32()),
    ("n_info", pa.int32()),
    ("n_warn", pa.int32()),
    ("n_error", pa.int32()),
    ("ts_min", pa.string()),
    ("ts_max", pa.string()),
    ("prompt_count", pa.int32()),
    ("cmd_lines", pa.list_(pa.string())),
    ("n_cmd", pa.int32()),
    ("n_vim", pa.int32()),
    ("n_unparsed", pa.int32()),
    ("n_app_mode", pa.int32()),
    ("n_devstat", pa.int32()),
    ("n_edit_warnings", pa.int32()),
])
PARSED_SCHEMA_DDL = spark_ddl(_ARROW_SCHEMA)


def decode_token_lists(col: pa.Array) -> tuple[list[str], np.ndarray]:
    """list<int32> Arrow column -> per-row Python strings.

    One vectorized decode for the whole batch: the child values buffer is
    reinterpreted as UTF-32LE and sliced by list offsets.
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    values = col.values.to_numpy(zero_copy_only=False)
    # view (not astype): int32 -> uint32 is a reinterpret, and str()
    # decodes straight from the buffer — zero intermediate copies of
    # the ~4 KiB/doc token payload (astype+tobytes copied it twice)
    big = str(memoryview(values.view("<u4")), "utf-32-le", "replace")
    docs = [big[offsets[i]:offsets[i + 1]] for i in range(len(col))]
    return docs, offsets


def encode_string_lists(strings: list[str]) -> pa.ListArray:
    """Per-row strings -> one list<int32> Arrow column (UTF-32 reinterpret,
    single allocation)."""
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64,
                       count=len(strings))
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    joined = "".join(strings)
    values = np.frombuffer(joined.encode("utf-32-le"), dtype="<u4").astype(
        np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(values, pa.int32()))


class Extractor:
    """A pluggable column producer for the parse stage — the engine's
    analog of the reference's handler-injection slots
    (``terminal_output_handler`` / ``control_sequence_handler`` /
    ``dc_control_handler`` / ``osc_handler``, vtparser.py:485-530,
    wired at terminal2html.py:690-692): instead of mutating a stateful
    sink, a plugin computes one extra COLUMN per document inside the
    same Arrow batch loop (no extra python stage, no per-row UDF).

    fn(text, parsed) -> value; ``text`` is the decoded transcript,
    ``parsed`` the engine's column dict (ansi.parse_doc). ``ddl`` is
    the Spark type (e.g. ``"int"``, ``"array<string>"``), ``pa_type``
    the matching pyarrow type.
    """

    __slots__ = ("name", "ddl", "pa_type", "fn")

    def __init__(self, name: str, ddl: str, pa_type, fn):
        self.name = name
        self.ddl = ddl
        self.pa_type = pa_type
        self.fn = fn


def parse_batch(batch: pa.RecordBatch,
                extractors: tuple = ()) -> pa.RecordBatch:
    docs, _ = decode_token_lists(batch.column("tokens"))
    n = len(docs)
    parsed = [ansi.parse_doc(d) for d in docs]

    i32 = lambda key: pa.array([p[key] for p in parsed], pa.int32())  # noqa: E731
    arrays = [
        batch.column("doc_id"),
        batch.column("source"),
        batch.column("n_tok").cast(pa.int32()),
        pa.array([p["stripped"] for p in parsed], pa.string()),
        pa.array([len(p["stripped"]) for p in parsed], pa.int32()),
        i32("n_events"), i32("n_csi"), i32("n_osc"), i32("n_esc"),
        i32("n_dcs"), i32("n_sgr"), i32("n_c1"),
        pa.array([list(p["seq_hist"].items()) for p in parsed],
                 pa.map_(pa.string(), pa.int32())),
        pa.array([p["severity"] for p in parsed], pa.string()),
        i32("n_debug"), i32("n_info"), i32("n_warn"), i32("n_error"),
        pa.array([p["ts_min"] for p in parsed], pa.string()),
        pa.array([p["ts_max"] for p in parsed], pa.string()),
        i32("prompt_count"),
        pa.array([p["cmd_lines"] for p in parsed], pa.list_(pa.string())),
        pa.array([len(p["cmd_lines"]) for p in parsed], pa.int32()),
        i32("n_vim"),
        i32("n_unparsed"),
        i32("n_app_mode"),
        i32("n_devstat"),
        i32("n_edit_warnings"),
    ]
    schema = _ARROW_SCHEMA
    if extractors:
        fields = list(_ARROW_SCHEMA)
        for ex in extractors:
            arrays.append(pa.array(
                [ex.fn(d, p) for d, p in zip(docs, parsed)], ex.pa_type))
            fields.append(pa.field(ex.name, ex.pa_type))
        schema = pa.schema(fields)
    assert n == len(arrays[0])
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def typed_events_extractor() -> Extractor:
    """SURVEY §1.3's typed per-event record column,
    ``events: array<struct<kind,param,final,pos>>`` — the engine-side
    analog of the reference's per-event dispatch stream
    (vtparser.py:644-694). Opt-in via ``parse_stage(extractors=...)``
    so the hot path pays nothing when positional analysis isn't
    requested; computed in the SAME Arrow batch loop (no extra stage).

    kind: CSI/OSC/ESC/DCS/C1; param: private flag + parameter string
    (CSI), selector (OSC), intermediates (ESC), hex code (C1);
    final: the dispatch character; pos: absolute char offset of the
    sequence start in the decoded document.
    """
    from ..functions import ansi

    pa_type = pa.list_(pa.struct([
        ("kind", pa.string()), ("param", pa.string()),
        ("final", pa.string()), ("pos", pa.int32())]))

    def fn(text: str, _parsed: dict) -> list:
        out = []
        for m in ansi.ANSI_RE.finditer(text):
            key = ansi.seq_key(m.group(0))
            if key is None:
                continue  # truncated at EOD: never dispatched
            kind, _, rest = key.partition(":")
            if kind == "CSI" or kind == "ESC":
                param, final = rest[:-1], rest[-1]
            elif kind == "OSC":
                param, final = rest, ""
            elif kind == "C1":
                param, final = rest, ""
            else:  # DCS
                param, final = "", ""
            out.append({"kind": kind, "param": param, "final": final,
                        "pos": m.start()})
        return out

    return Extractor(
        "events",
        "array<struct<kind:string,param:string,final:string,pos:int>>",
        pa_type, fn)


def device_status_discard(events_col):
    """F2 discard predicate (terminal2html.py:639-644) as a built-in
    array filter over the typed event column: drop CSI DSR (final
    ``n``) and DA (final ``c`` with params ''/'0')."""
    from pyspark.sql import functions as F

    def keep(e):
        par = e["param"]
        # strip a leading private flag before the DA param test
        body = F.when(
            F.substring(par, 1, 1).isin("<", "=", ">", "?"),
            F.substring(par, 2, 2147483647)).otherwise(par)
        is_dsr = (e["kind"] == "CSI") & (e["final"] == "n")
        is_da = ((e["kind"] == "CSI") & (e["final"] == "c")
                 & body.isin("", "0"))
        return ~(is_dsr | is_da)

    return F.filter(events_col, keep)


def parse_stage(df: DataFrame, extractors: tuple = ()) -> DataFrame:
    """tokenized_logs(doc_id, tokens, n_tok, source) -> parsed columns.

    ``extractors``: optional tuple of :class:`Extractor` plugins; each
    adds one output column, computed inside the same single MapInArrow
    stage.
    """
    exs = tuple(extractors)

    def _map_batches(it: Iterator[pa.RecordBatch]) \
            -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows:
                yield parse_batch(batch, exs)

    ddl = PARSED_SCHEMA_DDL
    if exs:
        ddl += ", " + ", ".join(f"{e.name} {e.ddl}" for e in exs)
    return df.mapInArrow(_map_batches, ddl)


# --- generate-from-ids stage (entry-point path over driver tables) -----

def synth_tokens_stage(df: DataFrame, seed: int = 42) -> DataFrame:
    """(doc_id_num bigint) -> tokenized_logs rows, synthesizing each
    transcript deterministically from its numeric id (datagen.gen_doc).

    Lets the driver-provided `documents` table define cardinality and ids
    while the transcript content stays a pure function of (id, seed) —
    no external data, reproducible at any scale.
    """
    from .. import datagen

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column("doc_id_num").to_pylist()
            texts = [datagen.gen_doc(i, seed)[0] for i in ids]
            toks = encode_string_lists(texts)
            yield pa.RecordBatch.from_arrays(
                [pa.array([f"doc_{i:08d}" for i in ids], pa.string()),
                 toks,
                 pa.array([len(t) for t in texts], pa.int32()),
                 pa.array([datagen.doc_source(i, seed) for i in ids],
                          pa.string())],
                schema=TOKENIZED_SCHEMA)

    return df.mapInArrow(gen, TOKENIZED_DDL)
