"""Checkpointed, resumable batch execution with per-partition lineage.

Generalizes the reference's control plane:
- one queue message = one entity job, acked only after success
  (worker.py:66-90) → here: one *bucket* of entities = one unit of work,
  recorded only after its output is durably written;
- per-step timed Provenance records persisted as JSON
  (models.py:19-43, provenance.py:19-43) → here: one small JSON record
  per bucket in ``checkpoint_dir`` with rows/bytes/ms/status + a JSON
  lineage blob, plus one ``_provenance_attempt<n>.json`` per attempt in
  ``output_dir`` holding the summary ``run()`` returns, or, for an
  attempt that raised, its summary so far and the error (no separate
  provenance tracker);
- result registration in an index (worker.py:93-114 save_to_dane_index)
  → here: the checkpoint record IS the registration.

Resume contract (north rule): a killed job restarts, lists the records,
and recomputes only the buckets without a ``done`` record — no
recomputation of finished work, identical final table.

The control plane runs in the driver and launches no Spark job. A record
is written through the Hadoop ``FileSystem`` API (any URI the session
can reach) to a ``_``-prefixed temp name, then renamed to
``bucket=<b>-attempt=<a>.json``; readers skip ``_`` names, so a crash
leaves no half record. The directory reads as a JSON-lines table
(``spark.read.json(checkpoint_dir)``) and holds one record per bucket
and attempt, so it needs no compaction. A missing ``checkpoint_dir``
means nothing is done; an entry that is not a readable record raises
naming the file instead of producing a wrong table.

Each attempt claims its number before it writes anything: 1 + the
highest number recorded or claimed, by creating ``_attempt<n>`` in
``checkpoint_dir`` only if absent (``FileSystem.createNewFile``; the
next number while it exists), so no two attempts share a number or a
``_provenance_attempt<n>.json``. The create is atomic on HDFS, where
the loser of a race raises ``FileAlreadyExistsException``; Hadoop's
local FS and S3A check, then create, so two attempts started in the
same instant could both claim one number.

Each run has one identity, planned before any write (no Spark job):
``n_buckets``, ``entity_col``, ``input_files_sha256`` (a SHA-256 of the
source's sorted input file list, ``DataFrame.inputFiles``, computed in
the JVM; null for a source that lists no files, such as
``createDataFrame``, which cannot be checked), ``rows_schema_sha256``
and ``output_schema_sha256`` (SHA-256s of the row stage's and the
pipeline output's ``schema.simpleString()``). Every record's lineage
holds it, and a restart raises ``ValueError`` naming the record and the
first key that differs, so no table mixes two inputs or two pipelines.
A record without a key, written by an older version, is refused the
same way.

The source is scanned once per job. A pipeline may carry its split as
``rows`` (a row-local stage) and ``windows`` (the rest), with
``pipeline(df) == windows(rows(df))``, as ``plans.pipeline.pit_features``
does; a plain callable's row stage is the identity. The first attempt
with pending work writes ``rows(source)``, bucket-partitioned, to
``{output_dir}/_staged`` and then publishes ``_staged/_stage.json``, the
identity plus the staged bucket list, by the same temp-then-rename.
Each bucket's job then runs only ``windows`` over its staged rows. The
snapshot is a cache: a later attempt reads it instead of the source
when the marker holds this run's identity and every pending bucket,
and stages again otherwise; only a marker it cannot read raises. A
successful attempt deletes ``_staged``. Buckets are always assigned by
``bucket_of``: a source's own ``__bucket`` column is ignored, so a
layout keyed by anything but the entity cannot split an entity's
history across buckets.

Each attempt names its Spark jobs by their description: the staging
write runs as ``pit:<attempt>:stage`` and each bucket's write as
``pit:<attempt>:<bucket>``, in the Spark UI and its status store. The
caller's own description is restored after each write.

Scale notes: buckets are ``pmod(xxhash64(entity), n_buckets)`` so output
partitioning is stable across cluster sizes and runs; each bucket's
output is written to its own ``bucket=<i>`` subdir before its record is
published, whatever the output's table format (SURVEY.md §7c).
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re
import time
from typing import Callable

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession

CHECKPOINT_SCHEMA = (
    "bucket int, status string, rows bigint, bytes bigint, ms double, "
    "attempt int, lineage string"
)
_FIELDS = [tuple(c.split()) for c in CHECKPOINT_SCHEMA.split(", ")]
_CAST = {"int": int, "bigint": int, "double": float, "string": str}
_RECORD_NAME = re.compile(r"bucket=\d+-attempt=\d+\.json")
_STAGE_MARKER = "_stage.json"
_CLAIM = re.compile(r"_attempt(\d+)")


def bucket_of(entity_col: str, n_buckets: int) -> F.Column:
    """Stable entity→bucket assignment (hash precedent
    base_util.py:205-206)."""
    return F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_buckets)).cast("int")


@contextlib.contextmanager
def _job_description(spark: SparkSession, description: str):
    """Name the Spark jobs started inside the block, then give back the
    caller's description. No job group: a caller may be using its own."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(caller)


def _write_text(fs, path, text: str) -> None:
    """Write ``text`` to the Hadoop ``path``, replacing any old file."""
    out = fs.create(path, True)
    try:
        out.write(text.encode())
    finally:
        out.close()


def _schema_sha256(df: DataFrame) -> str:
    """SHA-256 of ``df.schema.simpleString()`` (planning only, no Spark
    job)."""
    return hashlib.sha256(df.schema.simpleString().encode()).hexdigest()


def _input_files_sha256(df: DataFrame) -> str | None:
    """SHA-256 of ``df``'s sorted input file list (as the Java list
    string ``[a, b, ...]``), or None when it lists no files. The list
    stays in the JVM: PySpark's ``inputFiles()`` makes one py4j round
    trip per file, this a fixed number."""
    jvm = df.sparkSession._jvm
    found = df._jdf.inputFiles()
    n = len(found)
    if n == 0:
        return None
    # py4j passes a String[] only to a String[] or Object parameter, so
    # copy it into an Object[] for Arrays.sort/asList
    object_class = jvm.java.lang.Class.forName("java.lang.Object")
    files = jvm.java.lang.reflect.Array.newInstance(object_class, n)
    jvm.java.lang.System.arraycopy(found, 0, files, 0, n)
    jvm.java.util.Arrays.sort(files)
    md = jvm.java.security.MessageDigest.getInstance("SHA-256")
    sink = jvm.java.security.DigestOutputStream(
        jvm.java.io.OutputStream.nullOutputStream(), md
    )
    out = jvm.java.io.PrintStream(sink, False, "UTF-8")
    out.print(jvm.java.util.Arrays.asList(files))
    out.close()
    return bytes(md.digest()).hex()


def _check_identity(where: str, lineage: dict, identity: dict) -> None:
    """Raise ``ValueError`` naming ``where`` and the first ``identity``
    key whose value ``lineage`` does not hold."""
    for key, now in identity.items():
        was = lineage.get(key)
        if was != now:
            raise ValueError(
                f"checkpoint record {where} was written with {key}={was!r}; "
                f"this run has {key}={now!r}. A resume would mix two inputs or "
                f"pipelines in one table: restart with the original ones or "
                f"use new output and checkpoint dirs"
            )


class CheckpointedRunner:
    """Drives a bucket-partitioned pipeline to completion, resumably.

    ``pipeline``: (DataFrame of one bucket's input) -> output DataFrame,
    optionally split into ``pipeline.rows``, a row-local stage that keeps
    ``entity_col`` and runs once per job when the source is staged, and
    ``pipeline.windows``, which runs per bucket over the staged rows.
    Each bucket's output lands in ``{output_dir}/bucket={i}``; its
    checkpoint record lands in ``{checkpoint_dir}`` after the write
    succeeds, so a crash between the two re-runs that bucket (at-least-
    once on compute, exactly-once on recorded completion — the
    reference's ack-after-success, worker.py:84-90).
    """

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        checkpoint_dir: str,
        n_buckets: int = 16,
        entity_col: str = "conv_id",
    ) -> None:
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.spark = spark
        self.output_dir = output_dir
        self.checkpoint_dir = checkpoint_dir
        self.n_buckets = n_buckets
        self.entity_col = entity_col

    def _path(self, parent: str, child: str | None = None):
        """(Hadoop FileSystem, Path) of ``parent`` or ``parent/child``."""
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(parent)
        if child is not None:
            p = jvm.org.apache.hadoop.fs.Path(p, child)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _read_json(self, fs, path):
        """The JSON document in the Hadoop ``path``."""
        stream = fs.open(path)
        try:
            io = self.spark._jvm.org.apache.hadoop.io.IOUtils
            return json.loads(bytes(io.readFullyToByteArray(stream)))
        finally:
            stream.close()

    def _publish(self, parent: str, name: str, text: str) -> None:
        """Write ``parent/name`` as a ``_`` temp, then rename it into place."""
        fs, tmp = self._path(parent, "_" + name)
        _write_text(fs, tmp, text)
        final = self._path(parent, name)[1]
        if not fs.rename(tmp, final):
            raise OSError(f"could not rename {tmp.toString()} to {final.toString()}")

    # -- checkpoint records ----------------------------------------------
    def _records(self, identity: dict | None = None) -> list[dict]:
        """Every record in ``checkpoint_dir``, typed as CHECKPOINT_SCHEMA.

        Raises ``ValueError`` naming the file for an entry that is not a
        readable record and, given this run's ``identity``, for a record
        whose lineage does not hold it."""
        fs, d = self._path(self.checkpoint_dir)
        if not fs.exists(d):
            return []
        records = []
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):  # temp records, crc files
                continue
            where = st.getPath().toString()
            try:
                if not (st.isFile() and _RECORD_NAME.fullmatch(name)):
                    raise ValueError("not a checkpoint record")
                raw = self._read_json(fs, st.getPath())
                rec = {k: _CAST[t](raw[k]) for k, t in _FIELDS}
                lineage = json.loads(rec["lineage"])
                if not isinstance(lineage, dict):
                    raise TypeError("lineage is not a JSON object")
            except (ValueError, KeyError, TypeError, Py4JJavaError) as e:
                raise ValueError(
                    f"unreadable checkpoint record {where}: {e!r}"
                ) from e
            if identity is not None:
                _check_identity(where, lineage, identity)
            records.append(rec)
        return sorted(records, key=lambda r: (r["attempt"], r["bucket"]))

    def _claim_attempt(self, records: list[dict]) -> int:
        """Claim and return this attempt's number, 1 + the highest one in
        ``records`` or claimed in ``checkpoint_dir``, by creating its
        ``_attempt<n>`` file only if absent (the next number otherwise)."""
        fs, d = self._path(self.checkpoint_dir)
        claimed = [
            int(m.group(1))
            for st in (fs.listStatus(d) if fs.exists(d) else [])
            if (m := _CLAIM.fullmatch(st.getPath().getName()))
        ]
        n = 1 + max([r["attempt"] for r in records] + claimed, default=0)
        while not fs.createNewFile(self._path(self.checkpoint_dir, f"_attempt{n}")[1]):
            n += 1
        return n

    def load_checkpoints(self) -> DataFrame:
        """The records as a CHECKPOINT_SCHEMA DataFrame, built in the driver."""
        return self.spark.createDataFrame(
            [tuple(r.values()) for r in self._records()], CHECKPOINT_SCHEMA
        )

    def _record(self, row: dict) -> None:
        """Publish one record."""
        name = f"bucket={row['bucket']}-attempt={row['attempt']}.json"
        self._publish(self.checkpoint_dir, name, json.dumps(row) + "\n")

    # -- the staged snapshot ----------------------------------------------
    def _staged_covers(self, staged_dir: str, pending: list[int], identity: dict) -> bool:
        """Whether ``staged_dir`` already holds every ``pending`` bucket of
        this run's ``identity``, by its ``_stage.json`` marker. Raises
        ``ValueError`` naming the marker when it is unreadable."""
        fs, p = self._path(staged_dir, _STAGE_MARKER)
        if not fs.exists(p):
            return False
        try:
            m = self._read_json(fs, p)
            staged = set(m.pop("buckets"))
        except (ValueError, KeyError, TypeError, AttributeError, Py4JJavaError) as e:
            raise ValueError(f"unreadable staging marker {p.toString()}: {e!r}") from e
        return m == identity and staged.issuperset(pending)

    # -- driver loop (the queue-consumer analogue) ------------------------
    def run(
        self,
        source: DataFrame,
        pipeline: Callable[[DataFrame], DataFrame],
        fail_after: int | None = None,
    ) -> dict:
        """Process all pending buckets; returns the attempt summary, which
        is also written to ``{output_dir}/_provenance_attempt<n>.json``:

        - ``attempt``: this attempt's number, 1 + the highest recorded or
          claimed by an earlier attempt, so never reused;
        - ``skipped``: buckets already done before this attempt;
        - ``computed``: buckets this attempt wrote and recorded;
        - ``n_buckets``: the runner's bucket count;
        - ``staged_writes``: writes of ``_staged``, each one full scan of
          ``source``: 1 when this attempt staged, 0 when it reused the
          staged snapshot or had nothing pending;
        - ``output_rows``: rows over every done bucket, from the records;
        - ``ms``: the attempt's wall time.

        An attempt that raises once it has claimed its number (a failed
        staging or bucket write, ``fail_after``) writes its summary so
        far too, with ``error``, the exception's type and message, then
        re-raises the exception unchanged.

        ``fail_after``: crash injection for resume tests — raises after
        N buckets complete (simulates a killed job).
        """
        t_run = time.monotonic()
        rows = getattr(pipeline, "rows", lambda df: df)
        windows = getattr(pipeline, "windows", pipeline)
        # the row stage and the output over this input, as they will be
        # over each bucket (planned only, no Spark job)
        input_rows = rows(source.drop("__bucket"))
        identity = {
            "n_buckets": self.n_buckets,
            "entity_col": self.entity_col,
            "input_files_sha256": _input_files_sha256(source),
            "rows_schema_sha256": _schema_sha256(input_rows),
            "output_schema_sha256": _schema_sha256(windows(input_rows)),
        }
        records = self._records(identity)
        done_rows = {r["bucket"]: r["rows"] for r in records if r["status"] == "done"}
        pending = [b for b in range(self.n_buckets) if b not in done_rows]
        attempt = self._claim_attempt(records)
        # each bucket reads its staged rows by a partition prune on
        # ``__bucket``: filtering a computed bucket column instead would
        # scan the source once per bucket (VERDICT r1). A source's own
        # ``__bucket`` column was dropped above, so every source is
        # staged and bucketed by ``bucket_of``. The leading ``_`` keeps
        # ``_staged`` out of ``result()``.
        staged_dir = os.path.join(self.output_dir, "_staged")
        staged_writes = completed = 0

        def summary(**error: str) -> dict:
            """The attempt summary, also written to its provenance file."""
            out = {
                "attempt": attempt,
                "skipped": self.n_buckets - len(pending),
                "computed": completed,
                "n_buckets": self.n_buckets,
                "staged_writes": staged_writes,
                "output_rows": sum(done_rows.values()),
                "ms": (time.monotonic() - t_run) * 1000.0,
                **error,
            }
            fs, p = self._path(self.output_dir, f"_provenance_attempt{attempt}.json")
            _write_text(fs, p, json.dumps(out, indent=2, sort_keys=True))
            return out

        try:
            if pending:
                src = input_rows.withColumn(
                    "__bucket", bucket_of(self.entity_col, self.n_buckets)
                )
                if not self._staged_covers(staged_dir, pending, identity):
                    # no marker may outlive the snapshot it describes
                    fs, p = self._path(staged_dir, _STAGE_MARKER)
                    fs.delete(p, False)
                    if len(pending) < self.n_buckets:
                        src = src.where(F.col("__bucket").isin(pending))
                    with _job_description(self.spark, f"pit:{attempt}:stage"):
                        src.write.mode("overwrite").partitionBy("__bucket").parquet(
                            staged_dir
                        )
                    marker = json.dumps({**identity, "buckets": pending})
                    self._publish(staged_dir, _STAGE_MARKER, marker)
                    staged_writes = 1
                # schema-providing read: a zero-row staged dir (empty source /
                # empty pending buckets) has no part files to infer from and
                # would raise (ADVICE r2)
                staged = self.spark.read.schema(src.schema).parquet(staged_dir)
            for b in pending:
                t0 = time.monotonic()
                part = staged.where(F.col("__bucket") == b).drop("__bucket")
                out = windows(part)
                path = os.path.join(self.output_dir, f"bucket={b}")
                # rows observed DURING the sink write: counting before or
                # after the write would be a second pass over the bucket
                obs = Observation()
                out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
                with _job_description(self.spark, f"pit:{attempt}:{b}"):
                    out.write.mode("overwrite").parquet(path)
                rows = int(obs.get["rows"])
                ms = (time.monotonic() - t0) * 1000.0
                fs, p = self._path(path)
                self._record(
                    {
                        "bucket": b,
                        "status": "done",
                        "rows": rows,
                        "bytes": fs.getContentSummary(p).getLength(),
                        "ms": ms,
                        "attempt": attempt,
                        "lineage": json.dumps(
                            {"step": "pipeline", "bucket": b, "attempt": attempt, **identity}
                        ),
                    }
                )
                done_rows[b] = rows
                completed += 1
                if fail_after is not None and completed >= fail_after:
                    raise RuntimeError(f"injected failure after {completed} buckets")
        except Exception as e:
            # the attempt's own error is the one to raise, whether or
            # not its summary could be written
            with contextlib.suppress(Exception):
                summary(error=f"{type(e).__name__}: {e}")
            raise
        # success: staging no longer needed (a crashed attempt leaves it
        # and its marker for the next attempt to read)
        fs, p = self._path(staged_dir)
        fs.delete(p, True)
        return summary()

    def result(self) -> DataFrame:
        return self.spark.read.parquet(self.output_dir)

