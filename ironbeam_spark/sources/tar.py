"""WebDataset-style TAR shard source/sink (north-star extension — no
reference analogue; the reference's nearest surface is the opaque-payload
custom source, ``src/helpers/stdlib.rs:160``).

The de-facto standard layout for large-scale multimodal training corpora
(the public WebDataset convention): a dataset is thousands of ``.tar``
shards; each sample is a group of adjacent members sharing a basename —
``000123.txt``, ``000123.json``, ``000123.jpg`` — and the extension names
the field.  Sequential tar reads turn object storage into a streaming
medium; the shard is the unit of parallelism.

Spark mapping:

- **one shard = one task** (tar is not splittable, exactly like gzip text;
  the WebDataset contract is "make many shards", and thousands of shards
  at 100 TB give the scheduler all the parallelism it needs);
- ``read_tar_members`` walks each shard with stdlib ``tarfile`` inside
  the shared shard source — members stream out as
  ``(shard, sample, field, payload)`` rows;
- ``webdataset_samples`` regroups members into one row per sample with a
  ``field → payload`` map (sorted entries, so downstream hashing is
  deterministic);
- ``write_tar_shards`` emits one ``part-NNNNN.tar`` per partition through
  the shared shard protocol of :mod:`ironbeam_spark.sources.shards`.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["write_tar_shards", "read_tar_members", "webdataset_samples"]


def write_tar_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    field_cols: list[str],
    mode: str = "overwrite",
) -> int:
    """Write one WebDataset tar shard per partition: every row becomes
    ``{key}.{field}`` members, one per column in ``field_cols`` (binary or
    string; strings are UTF-8 encoded).  Returns the number of shards
    written (empty partitions write nothing)."""
    from ironbeam_spark.sources.shards import shard_sink

    cols = [key_col, *field_cols]

    def encode(batches: Iterator, fh) -> int:
        import tarfile

        n = 0
        with tarfile.open(fileobj=fh, mode="w") as tf:
            for batch in batches:
                for vals in zip(*(c.to_pylist() for c in batch.columns)):
                    key, fields = str(vals[0]), vals[1:]
                    # '.' would corrupt the first-dot sample/field split on
                    # read-back (sample 'v1.2' comes back as 'v1'); '/'
                    # would read back as a path component.  Fail loudly at
                    # write time — silent regrouping is the worse outcome.
                    if "." in key or "/" in key:
                        raise ValueError(
                            f"tar sample key {key!r} must not contain '.' or '/'"
                        )
                    for field, v in zip(field_cols, fields):
                        if v is None:
                            continue
                        if isinstance(v, str):
                            payload = v.encode("utf-8")
                        elif isinstance(v, bytes):
                            payload = v
                        else:
                            # bytes(5) is FIVE ZERO BYTES — an unchecked
                            # cast would silently destroy data
                            raise ValueError(
                                f"field {field!r} must be string or binary, "
                                f"got {type(v).__name__}"
                            )
                        info = tarfile.TarInfo(name=f"{key}.{field}")
                        info.size = len(payload)
                        info.mtime = 0  # fixed: shard bytes are reproducible
                        tf.addfile(info, io.BytesIO(payload))
                        n += 1
        return n

    # backtick-quote so dotted field names (e.g. 'seg.json') resolve as
    # literal column names, not nested struct paths — and ALIAS them to
    # positional placeholders, because PySpark's mapInArrow re-resolves
    # every input column by name (df[col]) and would parse the dot as a
    # struct path again
    def _q(c: str):
        return F.col("`" + c.replace("`", "``") + "`")

    selected = df.select(
        *[_q(c).alias(f"_c{i}") for i, c in enumerate(cols)]
    )
    return shard_sink(selected, path, "tar", mode, encode)[1]


def _walk(shard: str, blob: bytes) -> Iterator:
    import tarfile

    import pyarrow as pa

    # keyed dict => within-shard LAST occurrence wins (tar append
    # semantics); insertion order keeps first-seen member order otherwise
    rows: dict[tuple[str, str], bytes] = {}
    with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
        for m in tf:
            if not m.isfile():
                continue
            payload = tf.extractfile(m).read()
            sample, _, field = m.name.rsplit("/", 1)[-1].partition(".")
            rows[(sample, field)] = payload
        # tarfile ends the walk quietly at a header cut short after the
        # first member: only the two zero blocks that end a complete
        # archive tell a whole shard from one cut at a member boundary
        tf.fileobj.seek(tf.offset)
        if tf.fileobj.read(2 * tarfile.BLOCKSIZE) != bytes(2 * tarfile.BLOCKSIZE):
            raise ValueError(f"no end-of-archive marker after {len(rows)} members")
    yield pa.RecordBatch.from_pylist(
        [{"shard": shard, "sample": s, "field": f, "payload": p} for (s, f), p in rows.items()]
    )


def read_tar_members(spark: SparkSession, path: str) -> DataFrame:
    """Stream every member of every ``.tar`` shard under ``path`` as
    ``(shard string, sample string, field string, payload binary)`` —
    ``sample``/``field`` split the member name at its FIRST dot (the
    WebDataset convention: ``sample.field.ext`` keeps multi-dot fields
    intact).  A member name WITHOUT a dot maps to ``field = ''`` — the
    documented convention for bare-named members in external tars (they
    group under their name with an empty field key rather than being
    silently dropped; filter ``field = ''`` upstream to exclude them).
    A name appearing more than once WITHIN a shard keeps the LAST
    occurrence — GNU/POSIX append (``tar -r``) semantics, matching what
    ``tar -x`` would leave on disk.  A corrupt or truncated shard (no
    end-of-archive marker after its last member) fails the read with a
    ``ValueError`` naming it (wrap with a dead-letter pattern upstream if
    shards may be damaged)."""
    from ironbeam_spark.sources.shards import shard_source

    return shard_source(
        spark, path, "tar", _walk,
        "shard string, sample string, field string, payload binary",
    )


def webdataset_samples(members: DataFrame) -> DataFrame:
    """Regroup member rows into one row per sample:
    ``(sample string, fields map<string, binary>)`` with map entries sorted
    by field name (deterministic downstream hashing).

    A sample carried by SEVERAL shards (a re-written dataset, overlapping
    shard globs) resolves to ONE whole-shard winner: the lexicographically
    smallest shard path containing the sample supplies ALL of its fields.
    The previous per-field ``min(payload)`` dedup could stitch a row from
    different generations (txt from copy 1, json from copy 2 — round-6
    ADVICE); whole-sample winners can't mix, and match the WebDataset
    contract that a sample lives entirely inside one shard.  Within a
    shard, :func:`read_tar_members` has already applied last-wins, so
    ``map_from_entries`` (Spark's ``mapKeyDedupPolicy=EXCEPTION`` default)
    sees unique keys.

    Cost shape: the winner is decided on (sample, shard) rows WITHOUT
    payloads — one combinable min aggregate — and only the winning copy's
    payload bytes enter the regroup shuffle (a losing multi-MB copy never
    crosses the wire; collecting all copies and filtering in the group
    was the round-6 review's finding).  Per-group memory is exactly one
    sample's members."""
    winners = members.groupBy("sample").agg(F.min("shard").alias("shard"))
    kept = members.join(winners, on=["sample", "shard"], how="left_semi")
    agg = kept.groupBy("sample").agg(
        F.collect_list(F.struct("field", "payload")).alias("_m")
    )
    return agg.select(
        "sample", F.map_from_entries(F.sort_array(F.col("_m"))).alias("fields")
    )
