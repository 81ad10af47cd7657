"""Spark-side batched triple/mention extraction (the Arrow lane).

Two paths, chosen by whether cross-turn context is needed:

* :func:`extract_triples` — **stateless per-turn** extraction via
  ``mapInArrow`` with a zero-copy bytes-regex kernel. No shuffle at all: a
  narrow map over the transcript scan, which is the 100 TB throughput path
  (extraction cost scales linearly with input bytes; parallelism = input
  splits). Column pruning: only (conv_id, turn_idx, text) are read.

* :func:`extract_triples_contextual` — **cross-turn** extraction (pronoun
  coreference) as stateless extraction + a SQL window forward-fill over
  (conv_id, turn_idx, stmt_idx). Turn order is stabilized by ``turn_idx``
  (input_hint); hot conversations are one *window partition*, which Spark
  sort-spills to disk rather than materializing in Python memory.

Both match :func:`sparktax.extract.rules.reference_extract_pdf` exactly
(per-turn text-equality invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparktax.extract.rules import PRONOUNS

_TRIPLE_OUT_FULL = (
    "conv_id string, turn_idx int, stmt_idx int, subj string, pred string, obj string"
)
_MENTION_OUT = (
    "conv_id string, turn_idx int, surface string, kind string, "
    "span_start int, span_end int"
)


def _join_text_buffer(text) -> tuple[bytes, np.ndarray]:
    """Re-join an Arrow utf-8 array's rows with ``\\x00`` separators.

    One memcpy via memoryview slices over the contiguous data buffer — no
    per-row Python strings, no pandas conversion. Returns (joined, ends)
    where ``ends[i]`` is the position just past row i's last byte plus its
    separator, i.e. ``searchsorted(ends, match_pos, 'right')`` maps a match
    position back to its row.
    """
    n = len(text)
    bufs = text.buffers()
    # buffers: [validity, offsets(int32), data]
    off = np.frombuffer(bufs[1], dtype=np.int32)[text.offset : text.offset + n + 1].astype(np.int64)
    mv = memoryview(bufs[2])
    joined = b"\x00".join(mv[off[i] : off[i + 1]] for i in range(n))
    # end position of each row inside `joined` (+i separators before row i's end)
    ends = (off[1:] - off[0]) + np.arange(1, n + 1)
    return joined, ends


def _extract_arrow_batch(batch) -> "pa.RecordBatch":
    """Zero-copy statement extraction over one Arrow RecordBatch.

    The utf-8 data buffer of the ``text`` column already holds every row's
    bytes contiguously; rows are re-joined with a single ``\\x00`` separator
    and ONE bytes-regex pass scans the whole batch. ``\\x00`` is a non-word
    byte no grammar token can match, so word boundaries behave exactly as
    in per-row scanning and matches cannot cross rows (parity with
    ``reference_extract_pdf``). Match positions map back to rows via the
    (separator-adjusted) Arrow offsets.
    """
    import pyarrow as pa

    from sparktax.extract.rules import STATEMENT_RE_BYTES

    text = batch.column(2).combine_chunks() if hasattr(batch.column(2), "combine_chunks") else batch.column(2)
    n = len(text)
    out_rows: list[int] = []
    subs: list[str] = []
    preds: list[str] = []
    objs: list[str] = []
    if n:
        joined, ends = _join_text_buffer(text)
        starts: list[int] = []
        for m in STATEMENT_RE_BYTES.finditer(joined):
            starts.append(m.start())
            subs.append(m.group(1).decode("utf-8"))
            preds.append(m.group(2).decode("utf-8"))
            objs.append(m.group(3).decode("utf-8"))
        if starts:
            out_rows = np.searchsorted(
                ends, np.asarray(starts, dtype=np.int64), side="right"
            ).tolist()

    # stmt_idx: position of the statement within its turn (finditer order
    # is global & rows are sorted, so a running count per row suffices)
    stmt_idx: list[int] = []
    prev_row, count = -1, 0
    for row in out_rows:
        count = count + 1 if row == prev_row else 0
        prev_row = row
        stmt_idx.append(count)

    idx = pa.array(out_rows, type=pa.int64())
    passthrough = [batch.column(i).take(idx) for i in range(3, batch.num_columns)]
    pass_names = [batch.schema.names[i] for i in range(3, batch.num_columns)]
    return pa.RecordBatch.from_arrays(
        [
            batch.column(0).take(idx),
            batch.column(1).take(idx),
            pa.array(stmt_idx, type=pa.int32()),
            pa.array(subs, type=pa.string()),
            pa.array(preds, type=pa.string()),
            pa.array(objs, type=pa.string()),
            *passthrough,
        ],
        names=["conv_id", "turn_idx", "stmt_idx", "subj", "pred", "obj", *pass_names],
    )


def extract_triples(
    transcripts: DataFrame,
    keep_pronouns: bool = False,
    passthrough: tuple[str, ...] = (),
    with_stmt_idx: bool = False,
) -> DataFrame:
    """Stateless per-turn (subj, pred, obj) extraction. Zero-shuffle,
    zero-copy: ``mapInArrow`` + bytes regex over the Arrow utf-8 buffer
    (see :func:`_extract_arrow_batch`).

    ``passthrough`` columns (e.g. ``ts`` for streaming windows) ride along
    via an Arrow ``take`` — no join needed downstream.

    Pronoun-subject statements are dropped (they need cross-turn context;
    see :func:`extract_triples_contextual`).
    """
    import pyarrow as pa

    cols = transcripts.select("conv_id", "turn_idx", "text", *passthrough)
    extra_ddl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in transcripts.schema
        if f.name in passthrough
    )

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            out = _extract_arrow_batch(batch)
            if not keep_pronouns and out.num_rows:
                import pyarrow.compute as pc

                mask = pc.invert(
                    pc.is_in(out.column(3), value_set=pa.array(sorted(PRONOUNS)))
                )
                out = out.filter(mask)
            yield out

    res = cols.mapInArrow(gen, schema=_TRIPLE_OUT_FULL + extra_ddl)
    return res if with_stmt_idx else res.drop("stmt_idx")


def extract_triples_contextual(transcripts: DataFrame) -> DataFrame:
    """Cross-turn extraction with pronoun coreference — pure SQL windows.

    Two stages: (1) the zero-copy stateless kernel with
    ``keep_pronouns=True`` + per-turn statement indices (narrow, no
    shuffle); (2) ``last(explicit_subject, ignoreNulls) OVER
    (PARTITION BY conv_id ORDER BY turn_idx, stmt_idx)`` — the running
    "most recent explicit subject" as a window forward-fill.

    Skew: a hot conversation is one *window partition*, which Spark
    sort-spills to disk — unlike an ``applyInPandas`` group, it never has
    to fit in Python memory. (The reference resolves coref row-by-row in a
    single process; semantics proven equal in tests/test_extract.py.)
    """
    ex = extract_triples(transcripts, keep_pronouns=True, with_stmt_idx=True)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "stmt_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    explicit = F.when(~F.col("subj").isin(*PRONOUNS), F.col("subj"))
    resolved = F.last(explicit, ignorenulls=True).over(w)
    return (
        ex.withColumn("_resolved", resolved)
        .filter(F.col("_resolved").isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            F.col("_resolved").alias("subj"),
            "pred",
            "obj",
        )
    )


def _mentions_arrow_batch(batch) -> "pa.RecordBatch":
    """Zero-copy mention detection over one Arrow RecordBatch.

    Same joined-buffer bytes-regex pass as :func:`_extract_arrow_batch`,
    emitting the subject and object of every statement with **character**
    spans relative to the row's text: byte offsets are converted exactly by
    subtracting the count of UTF-8 continuation bytes before each position
    (one vectorized cumsum over the batch — identical to the per-row str
    kernel's spans, including on non-ASCII text)."""
    import pyarrow as pa

    from sparktax.extract.rules import STATEMENT_RE_BYTES

    text = batch.column(2).combine_chunks() if hasattr(batch.column(2), "combine_chunks") else batch.column(2)
    n = len(text)
    surfaces: list[str] = []
    kinds: list[str] = []
    b_starts: list[int] = []
    b_ends: list[int] = []
    rows = np.empty(0, dtype=np.int64)
    span_start = span_end = rows
    if n:
        joined, ends = _join_text_buffer(text)
        for m in STATEMENT_RE_BYTES.finditer(joined):
            for grp, kind in ((1, "subj"), (3, "obj")):
                surfaces.append(m.group(grp).decode("utf-8"))
                kinds.append(kind)
                b_starts.append(m.start(grp))
                b_ends.append(m.end(grp))
        if b_starts:
            bs = np.asarray(b_starts, dtype=np.int64)
            be = np.asarray(b_ends, dtype=np.int64)
            rows = np.searchsorted(ends, bs, side="right")
            row_start = np.concatenate([[0], ends[:-1]])[rows]
            # ccum[p] = UTF-8 continuation bytes in joined[0:p)
            arr = np.frombuffer(joined, dtype=np.uint8)
            ccum = np.concatenate(
                [[0], np.cumsum((arr & 0xC0) == 0x80, dtype=np.int64)]
            )
            span_start = (bs - row_start) - (ccum[bs] - ccum[row_start])
            span_end = (be - row_start) - (ccum[be] - ccum[row_start])

    idx = pa.array(rows.tolist(), type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            batch.column(0).take(idx),
            batch.column(1).take(idx),
            pa.array(surfaces, type=pa.string()),
            pa.array(kinds, type=pa.string()),
            pa.array(span_start.astype(np.int32).tolist(), type=pa.int32()),
            pa.array(span_end.astype(np.int32).tolist(), type=pa.int32()),
        ],
        names=["conv_id", "turn_idx", "surface", "kind", "span_start", "span_end"],
    )


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """Mention detection: every subject/object occurrence with char spans.

    Zero-shuffle ``mapInArrow`` sharing the triple extractor's joined-batch
    bytes-regex kernel (one regex pass per batch instead of one per row);
    downstream entity linking joins these against a broadcast candidate
    dictionary.
    """
    cols = transcripts.select("conv_id", "turn_idx", "text")

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            yield _mentions_arrow_batch(batch)

    return cols.mapInArrow(gen, schema=_MENTION_OUT)

