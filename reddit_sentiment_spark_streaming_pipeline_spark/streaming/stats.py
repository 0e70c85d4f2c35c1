"""The batch-owned store layout every streaming gate shares.

REPLAY CONTRACT (exact dedup, near-dup, DSIR selection and the composed
ingest pipeline all keep it, through the helpers below):

- a gate's durable outputs are parquet tables partitioned by the
  micro-batch that wrote them: batch N owns `batch_id=N` and nothing
  else;
- batch N reads only the store partitions `batch_id < N`
  (`prior_partitions`), with an explicit schema — never its own,
  possibly partial, partition, and never footer inference, which might
  sample a torn part file a killed run left there;
- batch N overwrites its own partition (`write_partition`), and writes
  ONE stats row into its own `batch_id=N` stats partition
  (`write_stats_row`).

foreachBatch's retry semantics are that a crash after the side effects
but before the checkpoint commit re-runs the batch. Under the contract
the replay sees the identical store view, recomputes the identical
decision set, and its overwrites repair any partial write. Stats follow
the same per-partition overwrite, so a replayed batch's row keeps the
TRUE counts (a membership-only gate would repair an admitted count to
0: the store would stay right but the accounting would lie).
Micro-batches execute sequentially, so the read-check-write cycle is
race-free. `start_gate` owns the rest of the wiring: the checkpoint
under `<out_root>/_checkpoint`, the query name, the chaos
`after_batch_hook`, and the freeze-once model check.

Every filesystem question goes through the Hadoop FileSystem resolved
FOR the path (`hadoop_fs`): `os.path` only sees the driver's local
disk, so on any non-local root (hdfs://, s3a://) it would report the
store absent and every batch would silently re-admit everything.

The stats row is a handful of int64 counters the driver already holds;
running a Spark job (`createDataFrame → coalesce(1) → write`) to persist
it cost ~1.4 s of job overhead per batch (measured r13, sf0.001 ingest
drain) for a ~1 KB file, so on a local filesystem it is written
driver-side with pyarrow in the same layout, readable by the same
`spark.read.parquet(stats_dir)`. Other filesystems keep the Spark write.
The same writer (`write_driver_rows`) persists the posts consumer's
per-batch aggregate rows (`streaming/posts.py`): one file per batch
under a fixed name, so a replayed batch replaces its own rows.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType, TimestampType


def hadoop_fs(spark: SparkSession, path: str):
    """(fs, Path-class) for the filesystem `path` itself resolves to. A
    real FS error (auth, network) propagates and fails the batch."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath(path)))


def _compact_tmp_dirs(spark: SparkSession, store_dir: str) -> list[tuple[int, str, bool]]:
    """All sibling ``<store>.compact_tmp_<d>`` dirs as (d, path, complete).

    Complete means the parquet commit marker ``_SUCCESS`` exists — the
    same token compact_store's own tmp-reuse keys on. The scan is one
    listing of the store's parent directory on the store's filesystem
    (zero entries in any healthy state)."""
    fs, hpath = hadoop_fs(spark, store_dir)
    base = store_dir.rstrip("/")
    parent = hpath(base).getParent()
    prefix = hpath(base).getName() + ".compact_tmp_"
    out = []
    if parent is None or not fs.exists(parent):
        return out
    for status in fs.listStatus(parent):
        name = status.getPath().getName()
        if not name.startswith(prefix):
            continue
        suffix = name[len(prefix):]
        if not suffix.isdigit():
            continue  # e.g. a crashed ".merge" scratch dir — rebuildable
        path = status.getPath().toString()
        complete = fs.exists(hpath(path + "/_SUCCESS"))
        out.append((int(suffix), path, complete))
    return out


def assert_store_not_mid_compaction(spark: SparkSession, store_dir: str) -> None:
    """Refuse to read a store that a crashed compaction left PARTIAL.

    A compact_store crash between its delete(batch_id=dest) and rename
    leaves the dest rows' only copy in a complete ``.compact_tmp_<dest>``
    sibling. A gate that reads the store in that state silently
    re-admits every document whose fingerprint lived in dest. This check
    (one parent-dir listing, zero cost in any healthy state) turns that
    silent corruption into a loud failure telling the operator to re-run
    compact_store first. An incomplete tmp, or a complete tmp whose
    batch partition still exists, means the prior run crashed BEFORE
    deleting anything — the store is intact and the gate may proceed."""
    fs, hpath = hadoop_fs(spark, store_dir)
    for d, path, complete in _compact_tmp_dirs(spark, store_dir):
        part = hpath(os.path.join(store_dir, f"batch_id={d}"))
        if complete and not fs.exists(part):
            raise IOError(
                f"fingerprint store {store_dir} is mid-compaction: "
                f"batch_id={d} was deleted and its only copy is {path}. "
                f"Run compact_store(upto_batch_id>={d + 1}) to recover "
                "before (re)starting the gate."
            )


def prior_partitions(spark: SparkSession, store_dir: str, schema: str,
                     batch_id: int) -> DataFrame | None:
    """The store as batch `batch_id` must see it: partitions `batch_id <
    N` read with the explicit `schema`, or None while the store does not
    exist. A store a crashed compaction left partial fails loudly; a
    real read failure (corrupt part file, FS error) propagates instead
    of re-admitting everything as "first batch"."""
    assert_store_not_mid_compaction(spark, store_dir)
    if not path_exists(spark, store_dir):
        return None
    return spark.read.schema(schema).parquet(store_dir).filter(
        F.col("batch_id") < batch_id
    )


def count_true(col: str) -> Column:
    """Aggregate: number of rows where boolean `col` is true (0 if none)."""
    return F.coalesce(F.sum(F.col(col).cast("long")), F.lit(0))


def write_partition(frame: DataFrame, out_dir: str, batch_id: int,
                    *cols: str, **counts: Column) -> dict[str, int]:
    """Overwrite `out_dir/batch_id=N` with `frame` (projected to `cols`
    if given). Each named aggregate in `counts` rides the write as an
    observed metric (one action instead of a count plus a write) and
    comes back as an int."""
    obs = Observation()
    if counts:
        frame = frame.observe(obs, *[c.alias(n) for n, c in counts.items()])
    if cols:
        frame = frame.select(*cols)
    frame.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
    return {n: int(v) for n, v in obs.get.items()} if counts else {}


_ARROW_TYPES = {"bigint": "int64", "double": "float64", "string": "string",
                "timestamp": "timestamp[us]"}


def write_driver_rows(spark: SparkSession, out_dir: str, name: str,
                      schema: StructType, rows: list[tuple],
                      mode: str = "append") -> str | None:
    """Persist `rows`, a handful the driver already holds, as the one
    parquet file `out_dir/name`; timestamp columns carry epoch
    microseconds. Returns the local directory written, or None after the
    Spark fallback.

    On a local filesystem the file is written with pyarrow to a
    dot-prefixed temp (readers ignore dot-files) and committed by an
    atomic `os.replace` onto the fixed name, so rewriting the same name
    replaces the old rows whole and a crash leaves them old or new, never
    torn. Timestamps are INT96, as Spark writes them by default. Other
    filesystems get a Spark write of the same rows with `mode`, under
    Spark's own file names.
    """
    fs, hpath = hadoop_fs(spark, out_dir)
    if fs.getUri().getScheme() != "file":
        stamps = [isinstance(f.dataType, TimestampType) for f in schema]
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        spark.createDataFrame(
            [tuple(epoch + datetime.timedelta(microseconds=v) if ts and v is not None
                   else v for v, ts in zip(r, stamps)) for r in rows],
            schema,
        ).coalesce(1).write.mode(mode).parquet(out_dir)
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    # the URI's own path: "file:/x" must land in /x, not ./file:/x
    local = fs.makeQualified(hpath(out_dir)).toUri().getPath()
    os.makedirs(local, exist_ok=True)
    fields = [pa.field(f.name, pa.type_for_alias(_ARROW_TYPES[f.dataType.simpleString()]),
                       f.nullable) for f in schema]
    columns = list(zip(*rows)) or [()] * len(fields)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(columns, fields)],
                     schema=pa.schema(fields))
    tmp = os.path.join(local, f".{name}.tmp")
    pq.write_table(table, tmp, use_deprecated_int96_timestamps=True)
    os.replace(tmp, os.path.join(local, name))
    return local


def write_stats_row(spark: SparkSession, stats_dir: str, batch_id: int,
                    schema: str, values: tuple) -> None:
    """Write the batch's single stats row into `stats_dir/batch_id=N`.

    `schema` is a DDL string of int64 columns; `values` the row,
    positionally. The row is committed under a fixed name
    (`write_driver_rows`), and only then are other visible files of the
    partition removed, so a crash at any point leaves a committed row,
    old or new, never a torn or missing one.
    """
    names = [c.strip().split()[0] for c in schema.split(",")]
    local = write_driver_rows(
        spark, os.path.join(stats_dir, f"batch_id={batch_id}"), "part-00000.parquet",
        StructType([StructField(n, LongType()) for n in names]),
        [tuple(int(v) for v in values)], mode="overwrite",
    )
    if local is None:
        return
    committed = os.path.join(local, "part-00000.parquet")
    for f in glob.glob(os.path.join(local, "*")):
        if f == committed:
            continue
        if os.path.isdir(f):
            shutil.rmtree(f)
        else:
            os.remove(f)


def start_gate(stream: DataFrame, out_root: str, query_name: str, run_batch,
               after_batch_hook=None, freeze=None,
               cal_docs: DataFrame | None = None) -> StreamingQuery:
    """Start `run_batch(df, batch_id)` as a foreachBatch query named
    `query_name`, with its durable checkpoint at `<out_root>/_checkpoint`
    (gates must not share a root).

    ``after_batch_hook(batch_id)``, if given, runs after the batch's side
    effects but BEFORE Structured Streaming commits the batch to the
    checkpoint — a hook that raises lands the crash in exactly the
    window where foreachBatch's replay semantics bite. Used by the
    crash-replay tests and tools/streaming_rehearsal.py; never set in
    production wiring.

    ``freeze(cal_docs, model_dir)``, if given, freezes the gate's model
    ONCE under `<out_root>/dsir_model`: the params dir is written last,
    so its presence keys the check; a resume reuses the durable model
    untouched (re-freezing could shift the threshold mid-stream), and a
    fresh root without `cal_docs` refuses loudly.
    """
    if freeze is not None:
        model_dir = os.path.join(out_root, "dsir_model")
        if not path_exists(stream.sparkSession, os.path.join(model_dir, "params")):
            if cal_docs is None:
                raise ValueError(
                    f"start_{query_name}: no frozen model under "
                    f"{model_dir} and no cal_docs to freeze one from"
                )
            freeze(cal_docs, model_dir)

    def _fn(df: DataFrame, bid: int) -> None:
        run_batch(df, bid)
        if after_batch_hook is not None:
            after_batch_hook(bid)

    return (
        stream.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", os.path.join(out_root, "_checkpoint"))
        .queryName(query_name)
        .start()
    )
