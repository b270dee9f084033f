"""Staged table materialization with crash-safe commits, per-stage
lineage + row/byte metrics, and resume (north rule: "resumable from
per-partition checkpoints with lineage + row-count/byte metrics emitted
per stage").

The reference's persistence pattern is temp-file + atomic rename
(DocumentIndex.py:172-183, Crawler.py:87-102, SURVEY.md S7/S8). The Spark
re-expression: each stage writes parquet into ``<name>.tmp`` and is
atomically renamed to ``<name>`` only after the job succeeds, then a
``_MANIFEST.json`` records row count (captured in the SAME job via the
``Observation`` API — no second pass), byte size, schema, lineage (input
stage fingerprints) and wall time. A re-run skips every stage whose
manifest is complete and whose lineage matches — the anti-join-on-completed-
partitions resume of SURVEY.md §4. On a real cluster the rename commit is
replaced by an Iceberg snapshot commit; the manifest logic is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST = "_MANIFEST.json"


def read_stage_parquet(spark, stage_dir: str):
    """Read a committed stage dir, tolerating the ZERO-ROW partitioned
    case: a dir-partitioned parquet write of an empty frame emits no
    data files at all (only the manifest), so plain ``read.parquet``
    dies with UNABLE_TO_INFER_SCHEMA. Legitimate at small corpora —
    e.g. an anchor_field stage over a crawl with no in-corpus links —
    so fall back to an empty DataFrame reconstructed from the
    manifest's recorded schema (the same string the resume check
    validates against)."""
    from pyspark.sql.types import _parse_datatype_string

    mpath = os.path.join(stage_dir, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            m = json.load(f)
        if m.get("rows") == 0 and m.get("partition_by"):
            return spark.createDataFrame(
                [], _parse_datatype_string(m["schema"]))
    return spark.read.parquet(stage_dir)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class StageWriter:
    """Materializes named stages under ``base_dir`` with resume.

    ``iceberg_table_prefix`` switches stage materialization from local
    parquet directories to Iceberg tables (``<prefix>.<stage>`` via
    ``df.writeTo(...).using("iceberg")``) — the cluster path of the
    north rule, where the atomic-rename commit becomes an Iceberg
    snapshot commit and chunk resume maps to partition overwrites.
    Requires an Iceberg catalog on the session (spark.sql.catalog.*
    conf + the iceberg-spark-runtime jar); this sandbox has neither, so
    the branch fails loudly on first write rather than degrading
    silently, and every test exercises the parquet path
    (iceberg_table_prefix=None, the default).
    """

    def __init__(self, spark: SparkSession, base_dir: str,
                 verbose: bool = True,
                 iceberg_table_prefix: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        self.verbose = verbose
        self.iceberg_table_prefix = iceberg_table_prefix
        os.makedirs(base_dir, exist_ok=True)

    def _write_iceberg(self, df: DataFrame, name: str,
                       partition_by: list[str] | None) -> DataFrame:
        """Snapshot-commit one stage as an Iceberg table. Metrics and
        lineage still go to the local manifest (the audit trail is
        engine-independent); the data commit itself is Iceberg-atomic."""
        table = f"{self.iceberg_table_prefix}.{name}"
        writer = df.writeTo(table).using("iceberg")
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return self.spark.read.table(table)

    def _paths(self, name: str) -> tuple[str, str, str]:
        final = os.path.join(self.base_dir, name)
        return final, final + ".tmp", os.path.join(final, MANIFEST)

    def manifest(self, name: str) -> dict | None:
        _, _, mpath = self._paths(name)
        if os.path.exists(mpath):
            with open(mpath) as f:
                return json.load(f)
        return None

    def drop_stage(self, name: str) -> None:
        """Remove a stage's data + manifest (and any stale tmp dir).
        Used when a build variant makes an existing stage obsolete —
        e.g. a non-positional rebuild must not leave a prior
        positional_postings table for load_index to serve against the
        new corpus."""
        final, tmp, _ = self._paths(name)
        for p in (final, tmp):
            if os.path.exists(p):
                if self.verbose:
                    print(f"[stage {name}] dropping obsolete stage dir {p}")
                shutil.rmtree(p)

    def is_complete(self, name: str, lineage: dict | None = None,
                    expected_schema: str | None = None,
                    params: dict | None = None,
                    layout: str = "flat") -> bool:
        """A stage resumes only when manifest status, upstream lineage,
        OUTPUT SCHEMA, build params, and directory layout all match what
        the current code would produce. The schema check turns "resume a
        pre-upgrade stage, then AnalysisException three stages later"
        into an immediate rebuild of the stale stage; the layout check
        refuses to mix chunked and flat part-files under one stage dir."""
        m = self.manifest(name)
        if m is None or m.get("status") != "complete":
            return False
        if lineage is not None and m.get("lineage") != lineage:
            return False
        if expected_schema is not None and m.get("schema") != expected_schema:
            if self.verbose:
                print(f"[stage {name}] schema changed -> rebuild")
            return False
        if params is not None and m.get("params", {}) != params:
            if self.verbose:
                print(f"[stage {name}] params changed -> rebuild")
            return False
        if (m.get("layout", "chunked" if "chunks" in m else "flat")
                != layout):
            if self.verbose:
                print(f"[stage {name}] layout changed -> rebuild")
            return False
        return True

    def lineage_of(self, *names: str) -> dict:
        """Fingerprint of upstream stages for lineage validation (rows +
        commit id + schema, so an upstream schema change invalidates
        downstream stages instead of failing their plans)."""
        out = {}
        for n in names:
            m = self.manifest(n) or {}
            out[n] = {"rows": m.get("rows"), "commit_id": m.get("commit_id"),
                      "schema": m.get("schema")}
        return out

    def write_stage(self, df: DataFrame, name: str,
                    partition_by: list[str] | None = None,
                    sort_within: list[str] | None = None,
                    inputs: tuple[str, ...] = (),
                    params: dict | None = None,
                    pre_partitioned: bool = False) -> DataFrame:
        """Write (or resume) one stage; returns the stage read back from
        disk so downstream plans scan the materialized table (a real
        shuffle/lineage barrier, like the reference's per-stage pickles).

        ``params`` records build knobs that change the stage's CONTENT
        without changing its schema (e.g. use_doc2query) — a param
        mismatch forces a rebuild on resume.

        ``pre_partitioned`` declares that ``df``'s plan already
        co-locates each ``partition_by`` value (e.g. it ends in a
        repartition/aggregate keyed by it) — the writer then skips its
        own repartition instead of shuffling the rows a second time.
        """
        final, tmp, mpath = self._paths(name)
        lineage = self.lineage_of(*inputs)
        layout = "iceberg" if self.iceberg_table_prefix else "flat"
        if self.is_complete(name, lineage if inputs else None,
                            expected_schema=df.schema.simpleString(),
                            params=params or {}, layout=layout):
            if self.verbose:
                print(f"[stage {name}] resume: complete, skipping")
            if layout == "iceberg":
                return self.spark.read.table(
                    f"{self.iceberg_table_prefix}.{name}")
            return read_stage_parquet(self.spark, final)

        if layout == "iceberg":
            obs = Observation(f"{name}-{uuid.uuid4().hex[:8]}")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            t0 = time.time()
            out = self._write_iceberg(df, name, partition_by)
            m = {
                "name": name, "status": "complete",
                "commit_id": uuid.uuid4().hex,
                "rows": obs.get["rows"],
                "seconds": round(time.time() - t0, 3),
                "schema": df.schema.simpleString(),
                "partition_by": partition_by or [],
                "lineage": lineage, "params": params or {},
                "layout": "iceberg",
                "table": f"{self.iceberg_table_prefix}.{name}",
                "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime()),
            }
            os.makedirs(final, exist_ok=True)
            with open(mpath, "w") as f:
                json.dump(m, f, indent=1)
            return out

        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)

        if partition_by and not pre_partitioned:
            # co-locate each partition value on one task before the
            # partitioned write — otherwise every shuffle partition opens a
            # file in every partition dir (64 tasks x 64 buckets = 4096
            # tiny files; measured 4-8x slowdown on the downstream scan)
            df = df.repartition(*partition_by)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        obs = Observation(f"{name}-{uuid.uuid4().hex[:8]}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        t0 = time.time()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        elapsed = time.time() - t0
        rows = obs.get["rows"]

        os.rename(tmp, final)  # atomic commit (reference S7 pattern)
        m = {
            "name": name,
            "status": "complete",
            "commit_id": uuid.uuid4().hex,
            "rows": rows,
            "bytes": _dir_bytes(final),
            "seconds": round(elapsed, 3),
            "schema": df.schema.simpleString(),
            "partition_by": partition_by or [],
            "lineage": lineage,
            "params": params or {},
            "layout": "flat",
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(mpath, "w") as f:
            json.dump(m, f, indent=1)
        if self.verbose:
            print(f"[stage {name}] {rows} rows, {m['bytes']} bytes, "
                  f"{elapsed:.1f}s")
        return read_stage_parquet(self.spark, final)

    def write_stage_chunked(self, input_df: DataFrame, transform,
                            name: str, n_chunks: int, key_col: str = "url",
                            inputs: tuple[str, ...] = (),
                            params: dict | None = None) -> DataFrame:
        """Per-partition checkpointing (north rule): the stage is split
        into ``n_chunks`` hash-ranges of ``key_col``, each committed
        independently (temp + atomic rename + its own manifest). A
        killed build resumes by skipping complete chunks — the
        anti-join-on-completed-partitions pattern, at chunk granularity
        instead of whole-stage.

        The chunk predicate is applied to ``input_df`` BEFORE
        ``transform`` runs (``key_col`` must pass through unchanged).
        Filtering the transform's OUTPUT instead would be a scale bug:
        Catalyst cannot push a filter through MapInPandas, so every
        chunk job would re-run the full extraction UDF over ALL pages
        and discard (n_chunks−1)/n_chunks of the work — a clean chunked
        build would cost n_chunks× the extraction CPU.

        On a real cluster the chunks map to Iceberg manifest/partition
        ranges so each chunk scans only its input split; the local
        parquet layout is ``<name>/chunk=<c>/``.
        """
        final, _, _ = self._paths(name)
        lineage = self.lineage_of(*inputs)
        pred = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_chunks))
        subs = [transform(input_df.where(pred == c))
                for c in range(n_chunks)]
        out_schema = subs[0].schema.simpleString()

        # layout guard: a flat (or differently-chunked) stage under this
        # name would leave stale part-files next to the chunk dirs —
        # clear the whole stage dir instead of mixing layouts
        existing = self.manifest(name)
        if existing is not None and not self.is_complete(
                name, lineage if inputs else None,
                expected_schema=out_schema, params=params or {},
                layout="chunked"):
            if existing.get("chunks") != n_chunks and self.verbose:
                print(f"[stage {name}] layout/lineage mismatch -> clearing")
            shutil.rmtree(final, ignore_errors=True)
            existing = None

        for c in range(n_chunks):
            cname = f"{name}/chunk={c}"
            cfinal, ctmp, cmpath = self._paths(cname)
            # schema checked per-chunk too: a crashed build resumed under
            # upgraded code must not mix old- and new-schema chunks
            if self.is_complete(cname, lineage if inputs else None,
                                expected_schema=out_schema):
                if self.verbose:
                    print(f"[stage {cname}] resume: complete, skipping")
                continue
            shutil.rmtree(ctmp, ignore_errors=True)
            shutil.rmtree(cfinal, ignore_errors=True)
            sub = subs[c]
            obs = Observation(f"{name}-c{c}-{uuid.uuid4().hex[:8]}")
            sub = sub.observe(obs, F.count(F.lit(1)).alias("rows"))
            t0 = time.time()
            sub.write.mode("overwrite").parquet(ctmp)
            elapsed = time.time() - t0
            rows = obs.get["rows"]
            os.makedirs(final, exist_ok=True)
            os.rename(ctmp, cfinal)
            with open(cmpath, "w") as f:
                json.dump({
                    "name": cname, "status": "complete",
                    "commit_id": uuid.uuid4().hex, "chunk": c,
                    "rows": rows, "bytes": _dir_bytes(cfinal),
                    "seconds": round(elapsed, 3),
                    "schema": out_schema,
                    "lineage": lineage,
                }, f, indent=1)
            if self.verbose:
                print(f"[stage {cname}] {rows} rows, {elapsed:.1f}s")
        # stage-level manifest summarizing the chunks; keep the existing
        # one on a no-op resume so downstream lineage stays valid
        if (existing and existing.get("status") == "complete"
                and existing.get("chunks") == n_chunks
                and existing.get("lineage") == lineage):
            return self.spark.read.parquet(os.path.join(final, "chunk=*"))
        chunk_manifests = [self.manifest(f"{name}/chunk={c}")
                           for c in range(n_chunks)]
        with open(os.path.join(final, MANIFEST), "w") as f:
            json.dump({
                "name": name, "status": "complete",
                "commit_id": uuid.uuid4().hex,
                "rows": sum(m["rows"] for m in chunk_manifests),
                "bytes": _dir_bytes(final),
                "seconds": sum(m["seconds"] for m in chunk_manifests),
                "schema": out_schema,
                "partition_by": [f"chunk({key_col}, {n_chunks})"],
                "lineage": lineage,
                "params": params or {},
                "layout": "chunked",
                "chunks": n_chunks,
                "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime()),
            }, f, indent=1)
        return self.spark.read.parquet(
            os.path.join(final, "chunk=*"))

    def metrics(self) -> list[dict]:
        """All stage manifests (the lineage/metrics report)."""
        out = []
        for name in sorted(os.listdir(self.base_dir)):
            m = self.manifest(name)
            if m:
                out.append(m)
        return out


def read_queries_tsv(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """TSV query-file scan ``qid\\tquery`` (batch_retrieve.py:23-27, S9)."""
    df = (spark.read.option("sep", "\t")
          .schema("qid string, query string").csv(path))
    return [(r["qid"], (r["query"] or "").strip()) for r in df.collect()]
