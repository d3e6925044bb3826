"""WebDataset-style tar shard sink and source.

WebDataset (github.com/webdataset/webdataset) is the de-facto
sharded-tar layout for multimodal training data: a dataset is a set of
``shard-%05d.tar`` files; each *sample* is a group of adjacent tar
members sharing a basename — ``{key}.txt``, ``{key}.json``,
``{key}.jpg``, … — so a training loader streams whole samples
sequentially with zero seeks. Exporting a curated corpus to this
layout (and auditing one back in) is the interchange step between this
engine and GPU training jobs, the same role the gzip-JSONL round trip
plays for text-only corpora (``pipe_jsonl_roundtrip``).

Writer design (:func:`write_webdataset`):

- shard assignment is ``md5(key) mod num_shards`` — content-keyed and
  deterministic (the repo's md5-order discipline), never
  ``rand()``/``spark_partition_id()``, so a re-run of the same input
  produces byte-identical shards and the layout is oracle-replayable;
- one ``applyInPandas`` group per shard writes ``shard-%05d.tar``;
  members are emitted in ``(key, ext)`` sorted order with zeroed
  mtime/uid/gid/uname and fixed mode, so the TAR BYTES are a pure
  function of the data (two exports of the same corpus are
  bit-identical — diffable, dedupable, cache-friendly);
- each shard is staged as ``.{name}.tmp`` in the target directory and
  ``os.replace``d into place — a crashed export never leaves a
  half-written shard under the final name;
- the writer needs a cluster-shared POSIX path (tarfile writes through
  ``open()``): pass a :func:`~nebuia_vector_db_spark.session.posix_scratch_dir`
  allocation or an NFS/Lustre mount. Object-store output is the
  documented install point (fsspec/s3fs on executors), same class as
  the multimodal codec externals.

Scale posture: shard count is the parallelism knob — 100 TB at the
WebDataset-conventional ~1 GB/shard is ~100k shards, far above any
executor count, and each shard is one bounded task (rows arrive
pre-shuffled by the groupBy, sorted in-task). Nothing is ever
collected to the driver; the returned manifest is one row per
non-empty shard. The reader maps one task per shard file
(``binaryFile`` keeps whole-file granularity, which is exactly the
sample-locality contract tar shards exist to provide) and explodes
members via Arrow batches.

Reference scope note: the reference engine (main.go) stores one JSON
object per document in MinIO (main.go:334-342) — no archive/interop
surface; this is extension tier (SURVEY §2.4).
"""

from __future__ import annotations

import io
import os
import re
import tarfile
import uuid
from typing import Iterable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: schema of the exploded sample relation returned by read_webdataset
# shard is BIGINT: sequential routing (bin div bins_per_shard) passes
# 2^31 at the 100 TB token scale (ADVICE r14); the md5 default stays
# small but shares the column.
SAMPLES_SCHEMA = "shard BIGINT, key STRING, ext STRING, content BINARY"

MANIFEST_SCHEMA = (
    "shard BIGINT, n_samples BIGINT, n_members BIGINT, tar_bytes BIGINT"
)

_SHARD_RE = re.compile(r"shard-(\d+)\.tar$")


def _shard_expr(key_col: str, num_shards: int):
    """Deterministic shard id: first 8 md5 hex digits of the key, mod
    num_shards — same conv(substring(md5 …)) arithmetic as the
    pipeline samplers, so it is SQL-replayable if a layout oracle ever
    needs it."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % num_shards
    ).cast("int")


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    members: Mapping[str, str],
    num_shards: int = 8,
    shard_col: str | None = None,
) -> DataFrame:
    """Export ``df`` as WebDataset tar shards under ``out_dir``.

    ``members`` maps member EXTENSION -> source column; string columns
    are UTF-8-encoded, binary columns written as-is (NULL members are
    skipped — WebDataset samples may have optional fields). ``key_col``
    must be unique per row (it names the sample's members); uniqueness
    is asserted cheaply inside each shard task, which sees every row of
    a key (shard assignment is a function of the key).

    ``shard_col`` overrides the default md5 routing with a caller-
    computed shard id column (``num_shards`` is then ignored). The
    md5 default scatters keys uniformly — right for one-shot exports;
    an INCREMENTALLY MAINTAINED export wants SEQUENTIAL routing
    (shard = bin div bins_per_shard) so an append-only delta touches
    only the boundary shard and beyond
    (operators/incremental.py::TokenExportIndex, round 14).

    Returns the manifest DataFrame (one row per non-empty shard):
    (shard, n_samples, n_members, tar_bytes).
    """
    if not members:
        raise ValueError("members must name at least one extension")
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    for ext in members:
        if "/" in ext or "." in ext:
            raise ValueError(f"member extension {ext!r} must be a bare suffix")
    missing = {c for c in members.values() if c not in df.columns}
    if key_col not in df.columns:
        missing.add(key_col)
    if missing:
        raise ValueError(
            f"write_webdataset: column(s) {sorted(missing)} not in the "
            f"input relation (has {df.columns})"
        )
    if shard_col is not None and shard_col not in df.columns:
        raise ValueError(
            f"write_webdataset: shard_col {shard_col!r} not in the "
            f"input relation (has {df.columns})"
        )
    os.makedirs(out_dir, exist_ok=True)
    exts = sorted(members)
    sel = [F.col(key_col).cast("string").alias("_key"),
           # long, not int: sequential routing (bin div bins_per_shard)
           # exceeds 2^31 at the 100 TB token scale the bin ids are
           # engineered for — an int cast would silently wrap and
           # misroute shards (ADVICE r14)
           (F.col(shard_col).cast("long")
            if shard_col is not None
            else _shard_expr(key_col, num_shards)).alias("_shard")]
    for ext in exts:
        c = F.col(members[ext])
        sel.append(
            F.when(c.isNull(), F.lit(None).cast("binary"))
            .otherwise(c.cast("string").cast("binary")
                       if dict(df.dtypes)[members[ext]] != "binary"
                       else c)
            .alias(f"_m_{ext}")
        )
    staged = df.select(*sel)

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["_shard"].iloc[0])
        if pdf["_key"].duplicated().any():
            dup = pdf["_key"][pdf["_key"].duplicated()].iloc[0]
            raise ValueError(
                f"write_webdataset: duplicate sample key {dup!r} — "
                f"{key_col} must be unique per row"
            )
        pdf = pdf.sort_values("_key", kind="mergesort")
        # plain tuples in explicit column order: itertuples renames
        # underscore-prefixed fields, so attribute access is unusable
        cols = ["_key"] + [f"_m_{ext}" for ext in exts]
        pdf = pdf[cols]
        buf = io.BytesIO()
        n_members = 0
        # USTAR: fixed-layout headers, no PAX extension records whose
        # ordering could perturb byte-determinism; keys and bare
        # extensions stay far below the 100-char name limit.
        n_rows = 0
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tar:
            for tup in pdf.itertuples(index=False, name=None):
                key = tup[0]
                # n_samples counts samples a reader can actually
                # recover: a row whose members are ALL NULL writes no
                # tar entry and must not inflate the manifest
                if all(tup[1 + i] is None for i in range(len(exts))):
                    continue
                n_rows += 1
                for i, ext in enumerate(exts):
                    data = tup[1 + i]
                    if data is None:
                        continue
                    data = bytes(data)
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(data)
                    info.mtime = 0
                    info.mode = 0o644
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    tar.addfile(info, io.BytesIO(data))
                    n_members += 1
        if n_rows == 0:
            # every row's members were all NULL: no recoverable
            # samples, so write NOTHING — no zero-sample tar on disk
            # and no manifest row (ADVICE r12; keeps the docstring's
            # "one row per non-empty shard" contract literal).
            return pd.DataFrame(
                {
                    "shard": pd.Series([], dtype="int64"),
                    "n_samples": pd.Series([], dtype="int64"),
                    "n_members": pd.Series([], dtype="int64"),
                    "tar_bytes": pd.Series([], dtype="int64"),
                }
            )
        payload = buf.getvalue()
        final = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        # per-ATTEMPT-unique staging name: with speculative execution
        # two attempts of the same shard group run concurrently — a
        # shared tmp name would let the loser truncate the winner's
        # in-progress file. Both attempts produce byte-identical
        # payloads (the writer is deterministic), so whichever
        # os.replace lands last is equivalent.
        tmp = os.path.join(
            out_dir, f".shard-{shard:05d}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
        return pd.DataFrame(
            {
                "shard": [shard],
                "n_samples": [n_rows],
                "n_members": [n_members],
                "tar_bytes": [len(payload)],
            }
        )

    return staged.groupBy("_shard").applyInPandas(
        _write_shard, schema=MANIFEST_SCHEMA
    )


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read WebDataset shards back as the exploded sample relation
    (shard, key, ext, content) — one Spark task per shard file via the
    built-in ``binaryFile`` source (whole-shard granularity is the
    format's locality contract), members exploded in an Arrow-batched
    ``mapInPandas``.

    Audit/re-ingest path: group by ``key`` downstream to reassemble
    samples. Column pruning note: ``binaryFile`` skips file CONTENT
    when only metadata columns are selected, so a shard-count check
    never reads the tars.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(path)
        .select("path", "content")
    )

    def _untar(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # yield per tar FILE, not per Arrow batch: a batch can
            # carry several whole shards, and accumulating every
            # extracted member across them would peak at
            # (all blobs + all contents) simultaneously — an OOM at
            # exactly the ~1 GB shard sizes the module targets
            for p, blob in zip(pdf["path"], pdf["content"]):
                m = _SHARD_RE.search(p)
                shard = int(m.group(1)) if m else -1
                out: dict[str, list] = {
                    "shard": [],
                    "key": [],
                    "ext": [],
                    "content": [],
                }
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    for info in tar:
                        if not info.isfile():
                            continue
                        name, _, ext = info.name.rpartition(".")
                        fh = tar.extractfile(info)
                        out["shard"].append(shard)
                        out["key"].append(name)
                        out["ext"].append(ext)
                        out["content"].append(fh.read() if fh else b"")
                yield pd.DataFrame(out)

    return files.mapInPandas(_untar, schema=SAMPLES_SCHEMA)
