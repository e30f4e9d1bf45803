"""Native reader (and export writer) for the reference's on-disk
format: a dataset directory with one subdirectory per column ("key"),
each holding ``data.npy`` (NumPy array, possibly structured) and — for
ragged columns — ``index.npy`` of ``(start, stop)`` pairs, one per row
(i3cols/cols.py::save_item / ::load, i3cols/dtypes.py::START_STOP_T).

Implemented as a PySpark **Python DataSource** (Spark 4), so existing
i3cols datasets are first-class tables::

    df = read_npy_columns(spark, "/data/run123", keys=["hits", "energy"])

``read_npy_columns`` and ``stream_npy_columns`` are the format's one
open path.  Its two options are ``keys`` (the projection) and
``partitions`` (the split count cap; default the session's
``defaultParallelism``).  The schema comes from the npy headers in the
driver, the format is registered once per session, and a dataset of
one split and one batch is read in the driver (below).

Spark-first design notes:

* **Splits, not files.**  Each task reads a row range of every key via
  ``np.load(mmap_mode="r")`` — only the pages of its slice are
  touched, the distributed generalization of the reference's
  single-process mmap laziness.  Ragged columns slice their
  ``(start, stop)`` window out of ``index.npy`` and gather just those
  value rows.
* **Split rule** (batch and stream alike): a row range becomes
  min(``partitions``, ⌈bytes / 4 MiB⌉) equal row ranges.  The bytes
  come from the npy headers: each key's row itemsize, plus each ragged
  key's element itemsize × the elements between the range's index
  bounds.  Every split costs a Python worker task, so a small append
  reads in one task while a large import uses every core.
* **One split, one batch: read in the driver.**  A batch read whose
  whole row range is one split (≤ 4 MiB, whatever ``partitions`` is)
  and one Arrow batch (≤ 65536 rows) runs the task body in
  ``read_npy_columns`` itself and hands Spark the Arrow table as a
  local relation: no Python planner, no Python worker.  Such a read is
  a snapshot taken at open.  Larger batch reads and every stream stay
  on the DataSource, which Spark plans (``event_id`` pushdown
  included) when it plans a query and whose tasks read the files when
  the query runs.  The row bound is there because Spark copies a local
  relation row by row: 4 MiB of 16-byte rows took 2.0 s to open and
  aggregate in the driver against 1.0 s through the DataSource; 64k
  rows took 0.65 s against 1.0 s (4-core VM, warm).
* **Snapshot rule.**  A batch read is a snapshot of the rows present
  at open, on both paths: ``_open`` counts the aligned rows once and
  the DataSource reader reads rows [0, that count) of every query
  planned from the frame, the way the driver read holds the rows it
  read.  Rows appended later are seen by a later open (or by
  ``stream_npy_columns``, whose offsets follow the growing count);
  appends must rename new column files into place (see
  ``NpyColsStreamReader``).
* **Arrow batches, not Python rows.**  ``read`` yields
  ``pyarrow.RecordBatch`` — NumPy slice → Arrow is zero/near-zero
  copy, and rows never materialize as Python objects.
* **Filter pushdown.**  Predicates on the positional ``event_id``
  column (the surrogate key the engine materializes at ingest,
  SURVEY §1.2) narrow the row range BEFORE partition planning via
  ``pushFilters`` — the reference's category-index slicing, expressed
  as a datasource pushdown.
* **Projection.**  ``keys=`` limits the schema to those column dirs
  (the ``load(keys=...)`` contract); unrequested keys are never
  opened.  (Spark cannot yet prune columns *through* a Python
  DataSource on its own, so the knob is explicit, exactly like the
  reference's.)

``write_npy_columns`` is the inverse — a **driver-side migration/
export utility** (collects through Arrow), not a scale sink; the
engine's real sink is partitioned parquet (sources/ingest.py).  Like
that sink it builds each export in a private sibling directory and
publishes it whole by directory swap (``i3cols_spark.publish``), so a
failed export leaves the previous one readable and a rewrite needs no
pruning of stale keys.  The round trip is property-tested in
tests/test_npy_source.py.

Unsigned integers widen to the next signed Spark type (u1→short,
u2→int, u4→long); u8 maps to long and raises on values above 2^63-1
rather than wrapping.  Fixed-width ``S``/``U`` strings map to
binary/string.  ``datetime64`` maps to TimestampNTZ at µs precision.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from i3cols_spark.publish import sink
from i3cols_spark.session import register_data_source

FORMAT_NAME = "i3cols_npy"
EVENT_ID = "event_id"

_KIND_MAP: dict[tuple[str, int], DataType] = {
    ("b", 1): BooleanType(),
    ("i", 1): ByteType(),
    ("i", 2): ShortType(),
    ("i", 4): IntegerType(),
    ("i", 8): LongType(),
    ("u", 1): ShortType(),
    ("u", 2): IntegerType(),
    ("u", 4): LongType(),
    ("u", 8): LongType(),
    ("f", 4): FloatType(),
    ("f", 8): DoubleType(),
}


def _np_dtype_to_spark(dt: np.dtype) -> DataType:
    if dt.names is not None:
        return StructType(
            [StructField(n, _np_dtype_to_spark(dt[n]), True) for n in dt.names]
        )
    if dt.subdtype is not None:
        raise NotImplementedError(f"sub-array dtype {dt} not supported")
    if dt.kind in ("S", "V"):
        return BinaryType()
    if dt.kind == "U":
        return StringType()
    if dt.kind == "M":
        return TimestampNTZType()
    try:
        return _KIND_MAP[(dt.kind, dt.itemsize)]
    except KeyError:
        raise NotImplementedError(f"npy dtype {dt} not supported") from None


def _np_to_arrow(arr: np.ndarray, spark_type: DataType) -> pa.Array:
    """Column slice → Arrow array, recursing into structs."""
    if isinstance(spark_type, StructType):
        return pa.StructArray.from_arrays(
            [_np_to_arrow(arr[f.name], f.dataType) for f in spark_type.fields],
            [f.name for f in spark_type.fields],
        )
    if isinstance(spark_type, BinaryType):
        return pa.array(arr.tolist(), pa.binary())
    if isinstance(spark_type, StringType):
        return pa.array(arr.tolist(), pa.string())
    if isinstance(spark_type, TimestampNTZType):
        return pa.array(arr.astype("datetime64[us]"))
    if isinstance(spark_type, BooleanType):
        return pa.array(arr.astype(bool))
    target = {
        ByteType: np.int8,
        ShortType: np.int16,
        IntegerType: np.int32,
        LongType: np.int64,
        FloatType: np.float32,
        DoubleType: np.float64,
    }[type(spark_type)]
    if arr.dtype.kind == "u" and arr.dtype.itemsize == 8 and arr.size:
        if int(arr.max()) > np.iinfo(np.int64).max:
            raise OverflowError("uint64 column exceeds Spark LongType range")
    return pa.array(np.ascontiguousarray(arr).astype(target, copy=False))


@dataclass
class _Key:
    name: str
    data_path: str
    index_path: str | None  # present ⇒ ragged
    spark_type: DataType  # element type for ragged, column type otherwise


def _scan_keys(path: str, keys: list[str] | None) -> list[_Key]:
    names = sorted(
        d
        for d in os.listdir(path)
        if os.path.isfile(os.path.join(path, d, "data.npy"))
    )
    if keys is not None:
        missing = [k for k in keys if k not in names and k != EVENT_ID]
        if missing:
            raise FileNotFoundError(f"keys not in dataset {path}: {missing}")
        names = [k for k in keys if k != EVENT_ID]
    else:
        # the positional event_id column is synthesized by the reader;
        # a key dir of the same name would collide
        names = [n for n in names if n != EVENT_ID]
    out = []
    for n in names:
        data_path = os.path.join(path, n, "data.npy")
        index_path = os.path.join(path, n, "index.npy")
        if not os.path.isfile(index_path):
            index_path = None
        dt = np.load(data_path, mmap_mode="r").dtype
        out.append(_Key(n, data_path, index_path, _np_dtype_to_spark(dt)))
    return out


def _num_rows(key: _Key) -> int:
    target = key.index_path or key.data_path
    return np.load(target, mmap_mode="r").shape[0]


def _aligned_rows(path: str, keys: list[_Key]) -> int:
    """The row count every key shares; raises on misaligned columns."""
    rows = {k.name: _num_rows(k) for k in keys}
    if len(set(rows.values())) > 1:
        raise ValueError(f"misaligned columns in {path}: {rows}")
    return next(iter(rows.values()), 0)


#: Arrow batch size of every read task, in rows.
_BATCH_ROWS = 65536
#: Bytes per split in the split rule (module docstring).
_SPLIT_BYTES = 4 << 20


def _range_bytes(keys: list[_Key], lo: int, hi: int) -> int:
    """Bytes of rows [lo, hi) by the split rule (module docstring);
    ``hi > lo``."""
    total = 0
    for k in keys:
        data = np.load(k.data_path, mmap_mode="r")
        if k.index_path is None:
            total += data.itemsize * (hi - lo)
            continue
        index = np.load(k.index_path, mmap_mode="r")
        elements = int(index["stop"][hi - 1]) - int(index["start"][lo])
        total += index.itemsize * (hi - lo) + data.itemsize * max(0, elements)
    return total


def _one_batch(keys: list[_Key], nrows: int) -> bool:
    """Whether rows [0, nrows) are one split of one Arrow batch — the
    reads ``_open`` takes in the driver (module docstring).  Neither
    bound depends on ``partitions``."""
    return nrows <= _BATCH_ROWS and (nrows == 0 or _range_bytes(keys, 0, nrows) <= _SPLIT_BYTES)


def _splits(keys: list[_Key], lo: int, hi: int, npartitions: int) -> list[InputPartition]:
    """Rows [lo, hi) cut by the split rule (module docstring) — the
    one split planner of the batch and stream readers."""
    if hi <= lo:
        return [InputPartition((lo, lo))]
    n = min(npartitions, hi - lo, -(-_range_bytes(keys, lo, hi) // _SPLIT_BYTES))
    bounds = np.linspace(lo, hi, max(1, n) + 1).astype(np.int64)
    return [InputPartition((int(a), int(b))) for a, b in zip(bounds[:-1], bounds[1:])]


def _schema(keys: list[_Key]) -> StructType:
    fields = [StructField(EVENT_ID, LongType(), False)]
    for k in keys:
        t = ArrayType(k.spark_type) if k.index_path else k.spark_type
        fields.append(StructField(k.name, t, True))
    return StructType(fields)


class NpyColsReader(DataSourceReader):
    def __init__(self, path: str, keys: list[_Key], npartitions: int, nrows: int | None = None):
        self.keys = keys
        self.npartitions = npartitions
        # rows [0, nrows) — the open's snapshot — narrowed by pushFilters
        self.lo, self.hi = 0, _aligned_rows(path, keys) if nrows is None else nrows

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Consume range predicates on the positional ``event_id``:
        they become mmap slice bounds (the category-slice semantic).
        Returns the filters we can't evaluate (Spark re-applies them)."""
        unsupported = []
        for f in filters:
            attr = tuple(getattr(f, "attribute", ()) or ())
            v = getattr(f, "value", None)
            if attr != (EVENT_ID,) or not isinstance(v, int):
                unsupported.append(f)
            elif isinstance(f, EqualTo):
                self.lo, self.hi = max(self.lo, v), min(self.hi, v + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, v + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, v)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, v)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, v + 1)
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        return _splits(self.keys, self.lo, self.hi, self.npartitions)

    def read(self, partition: InputPartition):
        start, stop = partition.value
        return _read_range(self.keys, start, stop)


def _ragged_slice(data, index, a, b, key: _Key) -> pa.ListArray:
    idx = index[a:b]
    starts = idx["start"].astype(np.int64)
    stops = idx["stop"].astype(np.int64)
    lens = stops - starts
    offsets = np.zeros(len(idx) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if len(idx) and np.array_equal(starts[1:], stops[:-1]):
        vals = data[starts[0] : stops[-1]]  # contiguous fast path
    elif len(idx):
        vals = np.concatenate([data[s:e] for s, e in zip(starts, stops)])
    else:
        vals = data[:0]
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), _np_to_arrow(vals, key.spark_type)
    )


def _read_range(keys: list[_Key], start: int, stop: int):
    """Yield Arrow batches for rows [start, stop) of every key — the
    shared task body of the batch and stream readers, and of the
    driver read in ``_open``.  mmaps open per call; only the slice's
    pages are touched."""
    cols = {k.name: np.load(k.data_path, mmap_mode="r") for k in keys}
    idxs = {
        k.name: np.load(k.index_path, mmap_mode="r") for k in keys if k.index_path
    }
    for a in range(start, stop, _BATCH_ROWS):
        b = min(a + _BATCH_ROWS, stop)
        arrays = [pa.array(np.arange(a, b, dtype=np.int64))]
        names = [EVENT_ID]
        for k in keys:
            if k.index_path is None:
                arrays.append(_np_to_arrow(cols[k.name][a:b], k.spark_type))
            else:
                arrays.append(_ragged_slice(cols[k.name], idxs[k.name], a, b, k))
            names.append(k.name)
        yield pa.RecordBatch.from_arrays(arrays, names)


class NpyColsStreamReader(DataSourceStreamReader):
    """Tail a GROWING npy dataset: each microbatch reads the row range
    appended since the last committed offset (offset = aligned row
    count).  This is the reference's extraction pattern — per-file
    workers append to column dirs — turned into a Structured Streaming
    source; downstream watermarks/windows/dedup then work unchanged.

    Appends must be write-new-then-rename per column file (np.save in
    place is not atomic); `latestOffset` takes the MIN row count across
    keys so a half-appended dataset (some columns longer than others)
    never emits misaligned rows."""

    def __init__(self, keys: list[_Key], npartitions: int):
        self.keys = keys
        self.npartitions = npartitions

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"row": 0}

    def latestOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return {"row": min((_num_rows(k) for k in self.keys), default=0)}

    def partitions(self, start: dict, end: dict):
        return _splits(self.keys, start["row"], end["row"], self.npartitions)

    def read(self, partition: InputPartition):
        a, b = partition.value
        return _read_range(self.keys, a, b)

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from on-disk state; nothing to gc


class NpyColsDataSource(DataSource):
    """The ``i3cols_npy`` format, opened by ``read_npy_columns`` and
    ``stream_npy_columns``.  Options besides ``path``: ``keys``
    (comma-separated projection) and ``partitions`` (split count cap);
    a batch open also passes ``rows``, the row count it took its
    snapshot at (module docstring).  Both readers split a row range
    into min(``partitions``, ⌈bytes / 4 MiB⌉) row ranges."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _keys(self) -> list[_Key]:
        keys_opt = self.options.get("keys")
        keys = [k.strip() for k in keys_opt.split(",")] if keys_opt else None
        return _scan_keys(self.options["path"], keys)

    def _plan(self) -> tuple[list[_Key], int]:
        return self._keys(), int(self.options["partitions"])

    def schema(self) -> StructType:
        return _schema(self._keys())

    def reader(self, schema: StructType) -> NpyColsReader:
        nrows = self.options.get("rows")
        return NpyColsReader(self.options["path"], *self._plan(), nrows and int(nrows))

    def streamReader(self, schema: StructType) -> NpyColsStreamReader:  # noqa: N802
        return NpyColsStreamReader(*self._plan())


#: Spark refuses a Python DataSource reader that implements
#: ``pushFilters`` unless this session conf is on (it is off by default).
_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"


def _open(spark, path: str, keys: list[str] | None, partitions: int | None, stream: bool):
    """The one open path of the format, batch or stream.  The schema is
    a pure function of the npy headers, so it is computed here and
    passed with ``.schema()``: Spark then starts no Python planner to
    ask for it, and a bad dataset raises in the caller.  A batch read
    of one split and one Arrow batch runs the task body here, in the
    driver, and hands Spark the Arrow table (module docstring)."""
    spark.conf.set(_PUSHDOWN_CONF, "true")
    if spark.conf.get(_PUSHDOWN_CONF, None) != "true":
        raise RuntimeError(
            f"session refused {_PUSHDOWN_CONF}='true'; Spark fails every "
            f"{FORMAT_NAME} read without it"
        )
    register_data_source(spark, NpyColsDataSource)
    options = {"path": path, "keys": ",".join(keys or ())}  # empty keys: every key
    scanned = NpyColsDataSource(options)._keys()
    schema = _schema(scanned)
    if not stream:
        nrows = _aligned_rows(path, scanned)
        if _one_batch(scanned, nrows):
            batches = list(_read_range(scanned, 0, nrows))
            data = pa.Table.from_batches(batches) if nrows else to_arrow_schema(schema).empty_table()
            return spark.createDataFrame(data, schema=schema)
        options["rows"] = str(nrows)  # the snapshot (module docstring)
    options["partitions"] = str(partitions or spark.sparkContext.defaultParallelism)
    reader = spark.readStream if stream else spark.read
    return reader.format(FORMAT_NAME).schema(schema).options(**options).load()


def read_npy_columns(
    spark, path: str, keys: list[str] | None = None, partitions: int | None = None
):
    return _open(spark, path, keys, partitions, stream=False)


def stream_npy_columns(
    spark, path: str, keys: list[str] | None = None, partitions: int | None = None
):
    """``readStream`` over a growing npy dataset (see
    NpyColsStreamReader for the append contract)."""
    return _open(spark, path, keys, partitions, stream=True)


# --- export (driver-side migration utility; parquet is the scale sink) ---

_ARROW_TO_NP = {
    pa.bool_(): np.dtype("bool"),
    pa.int8(): np.dtype("int8"),
    pa.int16(): np.dtype("int16"),
    pa.int32(): np.dtype("int32"),
    pa.int64(): np.dtype("int64"),
    pa.float32(): np.dtype("float32"),
    pa.float64(): np.dtype("float64"),
}


def _one_chunk(col: pa.ChunkedArray | pa.Array) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if isinstance(col, pa.ChunkedArray):  # older pyarrow returns 1-chunk CA
        col = col.chunk(0) if col.num_chunks else pa.array([], col.type)
    return col


def _arrow_col_to_np(col: pa.ChunkedArray | pa.Array) -> np.ndarray:
    arr = _one_chunk(col)
    t = arr.type
    if pa.types.is_struct(t):
        fields = [(t.field(i).name, arr.field(i)) for i in range(t.num_fields)]
        subs = [(n, _arrow_col_to_np(f)) for n, f in fields]
        out = np.empty(len(arr), dtype=[(n, s.dtype, s.shape[1:]) for n, s in subs])
        for n, s in subs:
            out[n] = s
        return out
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return np.array(arr.to_pylist(), dtype="U")
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return np.array(arr.to_pylist(), dtype="S")
    if pa.types.is_timestamp(t):
        return arr.cast(pa.timestamp("us")).to_numpy(zero_copy_only=False).astype("datetime64[us]")
    np_dt = _ARROW_TO_NP.get(t)
    if np_dt is None:
        raise NotImplementedError(f"export of arrow type {t} not supported")
    return arr.to_numpy(zero_copy_only=False).astype(np_dt)


def write_npy_columns(df, path: str, overwrite: bool = False) -> None:
    """Export a DataFrame to the reference's column-dir layout
    (``<key>/data.npy`` + ``index.npy`` for array columns) so results
    flow back to an i3cols/NumPy consumer.  Collects via Arrow on the
    driver — a migration tool, deliberately not a distributed sink.

    The export is built in a fresh private sibling of ``path`` and
    published by directory swap (``i3cols_spark.publish.sink``): an
    export that raises (a null, or a type the npy layout has no dtype
    for, such as a DECIMAL, named with its column) leaves the previous
    one whole, and a rewrite holds only this export's keys.
    Unless ``overwrite``, an existing ``path`` raises FileExistsError."""
    with sink(path, overwrite) as tmp:
        os.makedirs(tmp)
        tbl = df.toArrow()
        for name in tbl.column_names:
            col = _one_chunk(tbl.column(name))
            # The npy layout has no null representation (structured arrays
            # are dense) — refuse rather than silently writing garbage.
            flat = col.flatten() if pa.types.is_list(col.type) else col
            if col.null_count or (flat is not col and flat.null_count):
                raise ValueError(
                    f"column {name!r} contains nulls; the npy column format "
                    "cannot represent them (fill or drop before export)"
                )
            kdir = os.path.join(tmp, name)
            os.mkdir(kdir)
            if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
                import pyarrow.compute as pc

                lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
                offs = np.zeros(len(col) + 1, dtype=np.uint64)
                np.cumsum(lens.astype(np.uint64), out=offs[1:])
                index = np.empty(len(col), dtype=[("start", "<u8"), ("stop", "<u8")])
                index["start"], index["stop"] = offs[:-1], offs[1:]
                np.save(os.path.join(kdir, "index.npy"), index)
                col = col.flatten()
            try:
                data = _arrow_col_to_np(col)
            except NotImplementedError as e:
                raise NotImplementedError(
                    f"column {name!r}: {e}; cast it to double or a fixed-width "
                    "integer before export"
                ) from e
            np.save(os.path.join(kdir, "data.npy"), data)
