"""The benchmark workloads.

Each workload writes its inputs under its own directory (``generate``),
runs one whole job from input files to an output (``job``), checks that
output against an independent expectation (``check``), and can rebuild
the same job from the same public calls with a span around each layer
(``traced``). A traced span times one call over the previous layer's
persisted output, so the span is that layer's own work.

Why these two (the per-layer metrics each should move are in
``LAYER_METRICS``; each layer is exercised by one workload and bypassed by
the other, where the prediction is no change):

- ``sync``: the engine's own job, both ways it brings a backup to
  production. Two mysqldump files become one sync script (parsing dump
  text in the Python tokenizer, the multi-table read, the catalog DDL
  path and the script sink), and a parquet snapshot pair is diffed and
  applied in three streamed micro-batches (``core.diff`` without dump
  text, and far more writing than reading).
- ``curate_web``: the crawl-to-training-data chain plus embedding
  near-duplicates. The text chain is many small, iterative, checkpointed
  Spark jobs, bound by scheduling rather than data volume; the embedding
  near-dup is the only CPU-bound path and the only caller of
  ``pipeline.vector``.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
from pyspark import StorageLevel
from pyspark.sql import functions as F

from database_syncer_spark.core import diff as DF
from database_syncer_spark.core import script as SC
from database_syncer_spark.core.snapshots import derive_backup, derive_backup_sql
from database_syncer_spark.oracle import compare_query
from database_syncer_spark.pipeline import dedup as D
from database_syncer_spark.pipeline import text as T
from database_syncer_spark.pipeline.multimodal import check_dim_count
from database_syncer_spark.queries import pipeline as P
from database_syncer_spark.sources import dump as DU
from database_syncer_spark.streaming.runner import incremental_sync_foreachbatch

import inputs

#: (name, unit, better, end-to-end metrics it should move, workload).
#: On every other workload the prediction is no change.
LAYER_METRICS = [
    ("sources.dump.split_s", "s", "lower", "job_s cpu_s", "sync"),
    ("sources.dump.tokenize_s", "s", "lower", "job_s cpu_s", "sync"),
    ("sources.dump.rows", "count", "higher", "job_s cpu_s", "sync"),
    ("sources.dump.task_cpu_s", "s", "lower", "job_s cpu_s", "sync"),
    ("core.diff.diff_s", "s", "lower", "job_s peak_rss_mb",
     "sync"),
    ("core.diff.changes", "count", "higher", "job_s peak_rss_mb",
     "sync"),
    ("core.diff.shuffle_mb", "MB", "lower", "job_s peak_rss_mb",
     "sync"),
    ("core.diff.spill_mb", "MB", "lower", "job_s peak_rss_mb",
     "sync"),
    ("core.script.generate_s", "s", "lower", "job_s", "sync"),
    ("core.script.write_s", "s", "lower", "job_s", "sync"),
    ("core.script.statements", "count", "higher", "job_s", "sync"),
    ("core.script.mb", "MB", "lower", "job_s", "sync"),
    ("streaming.runner.sync_s", "s", "lower", "job_s", "sync"),
    ("streaming.runner.write_mb", "MB", "lower", "job_s", "sync"),
    ("streaming.runner.write_amp", "ratio", "lower", "job_s",
     "sync"),
    ("streaming.runner.tasks", "count", "lower", "job_s", "sync"),
    ("pipeline.text.html_strip_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.text.quality_score_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.text.pack_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.dedup.exact_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.dedup.minhash_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.dedup.minhash_candidates", "count", "lower", "job_s",
     "curate_web"),
    ("pipeline.dedup.minhash_yield", "ratio", "higher", "job_s",
     "curate_web"),
    ("pipeline.dedup.components_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.dedup.paragraph_s", "s", "lower", "job_s", "curate_web"),
    ("pipeline.dedup.embedding_s", "s", "lower", "job_s cpu_s",
     "curate_web"),
    ("pipeline.dedup.embedding_candidates", "count", "lower", "job_s cpu_s",
     "curate_web"),
    ("pipeline.dedup.embedding_pairs", "count", "higher", "job_s cpu_s",
     "curate_web"),
    ("pipeline.dedup.embedding_yield", "ratio", "higher", "job_s cpu_s",
     "curate_web"),
    ("pipeline.dedup.embedding_task_cpu_s", "s", "lower", "job_s cpu_s",
     "curate_web"),
    ("pipeline.dedup.embedding_shuffle_mb", "MB", "lower", "job_s cpu_s",
     "curate_web"),
    ("spark.jobs", "count", "lower", "job_s", "curate_web"),
    ("spark.tasks", "count", "lower", "job_s", "curate_web"),
    ("spark.gc_s", "s", "lower", "job_s", "curate_web"),
    ("trace_overhead", "ratio", "lower", "-", "all"),
]

#: input sizes: (full run, smoke run)
SIZES = {
    "sync": {"lineitem_orders": (2_000, 300),
             "apply_orders": (15_000, 1_500), "apply_copies": (2, 1)},
    "curate_web": {"docs": (400, 200), "vectors": (400, 150)},
}


def _mb(path: str) -> float:
    if os.path.isfile(path):
        return os.path.getsize(path) / 2**20
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs) / 2**20


class Workload:
    name = ""

    def __init__(self, spark, seed: int, smoke: bool):
        self.spark = spark
        self.seed = seed
        self.size = {k: v[1 if smoke else 0]
                     for k, v in SIZES[self.name].items()}
        self.inputs = ""

    def generate(self, directory: str) -> None:
        """Write this run's inputs under ``directory`` and use them."""
        raise NotImplementedError

    def job(self, out: str):
        """One whole job; returns what ``check`` inspects."""
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Problems with a job's output; empty when it is correct."""
        raise NotImplementedError

    def traced(self, tr, out: str) -> tuple[object, dict[str, float]]:
        """The job rebuilt call by call under ``tr``'s spans; returns the
        output and the per-layer values not read from the event log."""
        raise NotImplementedError

    def layer_counters(self, counters) -> dict[str, float]:
        """Per-layer values read from the event log's counters."""
        return {}


# --- sync -------------------------------------------------------------------

_DUMP_TABLES = {  # table -> (primary key, column derive_backup mutates)
    "lineitem": (["l_orderkey", "l_linenumber"], "l_quantity"),
}
_SCRIPT_HEADER = "-- sync script: apply to backup to reach production state"


def _change_counts(prod: str, table: str, pk: list[str],
                   mutate: str) -> dict[str, int]:
    """INSERT/UPDATE/DELETE counts of backup -> prod, computed by DuckDB
    from the prod parquet and ``derive_backup_sql``."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS "
                    f"SELECT * FROM read_parquet('{prod}')")
        cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
        backup = derive_backup_sql(table, pk[0], mutate, cols)
        on = " AND ".join(f"p.{c} = b.{c}" for c in pk)
        differs = " OR ".join(f"p.{c} IS DISTINCT FROM b.{c}"
                              for c in cols if c not in pk)
        ins, upd, dele = con.execute(f"""
            SELECT count(*) FILTER (WHERE b.__b IS NULL),
                   count(*) FILTER (WHERE p.__p AND b.__b AND ({differs})),
                   count(*) FILTER (WHERE p.__p IS NULL)
            FROM (SELECT *, true AS __p FROM {table}) p
            FULL OUTER JOIN (SELECT *, true AS __b FROM ({backup})) b
            ON {on}""").fetchone()
    finally:
        con.close()
    return {"INSERT": ins, "UPDATE": upd, "DELETE": dele}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


_ORDERS_PK = ["o_orderkey"]
#: micro-batches of the snapshot apply
_CHUNKS = 3
_ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]


def _digest(df) -> tuple[int, int]:
    """Row count and order-insensitive content hash of an orders frame.
    The hashes are summed as decimal(38,0): a bigint sum overflows under
    ANSI mode."""
    row = df.agg(F.count(F.lit(1)),
                 F.sum(F.xxhash64(*_ORDERS_COLS).cast("decimal(38,0)"))).first()
    return int(row[0]), int(row[1])


class Sync(Workload):
    """Both ways the engine brings a backup to production, one after the
    other in each job.

    - Dump sync, the reference's whole job: prod and backup mysqldumps of
      three tables (lineitem, with its composite key and seed-shifted
      keys, in both, nation only in prod, region only in backup) become
      one sync script through ``compare_sql_files``.
    - Snapshot apply: a parquet prod/backup pair of replicated orders is
      diffed by ``snapshot_diff`` and the changes are applied to the
      backup in three micro-batches by ``incremental_sync_foreachbatch``.
    """

    name = "sync"

    def generate(self, directory: str) -> None:
        os.makedirs(directory)
        spark, seed = self.spark, self.seed
        base = {
            "lineitem": inputs.shift(
                inputs.lineitem(self.size["lineitem_orders"]), "l_orderkey",
                seed),
        }
        prod_tables, backup_tables = [], []
        for t, (pk, mutate) in _DUMP_TABLES.items():
            path = os.path.join(directory, f"{t}.parquet")
            prod = inputs.shuffle(base[t], seed)
            inputs.write(prod, path)
            prod_tables.append((t, prod, pk))
            backup = derive_backup(spark.read.parquet(path), pk[0], mutate)
            backup_tables.append((t, backup.toArrow(), pk))
        prod_tables.append(("nation", inputs.nation(), ["n_nationkey"]))
        backup_tables.append(("region", inputs.region(), ["r_regionkey"]))
        inputs.mysqldump(prod_tables, os.path.join(directory, "prod.sql"))
        inputs.mysqldump(backup_tables, os.path.join(directory, "backup.sql"))

        snap = inputs.replicate(inputs.orders(self.size["apply_orders"]),
                                "o_orderkey", self.size["apply_copies"], seed)
        snap_prod = os.path.join(directory, "snap_prod.parquet")
        inputs.write(inputs.shuffle(snap, seed), snap_prod)
        derive_backup(spark.read.parquet(snap_prod), "o_orderkey",
                      "o_totalprice").write.parquet(
                          os.path.join(directory, "snap_backup"))
        self.inputs = directory
        self.script_sha = None
        self._expected = None
        self._prod_digest = None

    def _dumps(self) -> tuple[str, str]:
        return (os.path.join(self.inputs, "prod.sql"),
                os.path.join(self.inputs, "backup.sql"))

    def _snapshots(self):
        read = self.spark.read.parquet
        return (read(os.path.join(self.inputs, "snap_prod.parquet")),
                read(os.path.join(self.inputs, "snap_backup")))

    def job(self, out: str):
        os.makedirs(out)
        script = os.path.join(out, "sync.sql")
        DU.compare_sql_files(self.spark, *self._dumps(), script, verbose=False)
        self.spark.catalog.clearCache()
        prod, backup = self._snapshots()
        state = incremental_sync_foreachbatch(
            self.spark, DF.snapshot_diff(prod, backup, _ORDERS_PK), backup,
            _ORDERS_PK, n_chunks=_CHUNKS, workdir=os.path.join(out, "apply"))
        return script, state

    @property
    def expected(self) -> dict[str, dict[str, int]]:
        """Per-table change counts of the dumps, computed by DuckDB on
        first use."""
        if self._expected is None:
            self._expected = {t: _change_counts(
                os.path.join(self.inputs, f"{t}.parquet"), t, pk, mutate)
                for t, (pk, mutate) in _DUMP_TABLES.items()}
        return self._expected

    def check(self, result) -> list[str]:
        script, state = result
        errors = self._check_script(script)
        if self._prod_digest is None:
            self._prod_digest = _digest(self._snapshots()[0])
        got = _digest(state)
        if got != self._prod_digest:
            errors.append(f"applied state (rows, hash) {got} != prod "
                          f"{self._prod_digest}")
        return errors

    def _check_script(self, script: str) -> list[str]:
        errors = []
        seen: dict[str, int] = {}
        ddl = []
        with open(script, encoding="utf-8") as fh:
            for line in fh:
                head = line[:40]
                for verb, kind in (("DELETE FROM `", "DELETE"),
                                   ("UPDATE `", "UPDATE"),
                                   ("INSERT INTO `", "INSERT")):
                    if head.startswith(verb):
                        t = head[len(verb):].split("`", 1)[0]
                        seen[f"{t}.{kind}"] = seen.get(f"{t}.{kind}", 0) + 1
                        break
                else:
                    if line.startswith(("DROP TABLE", "CREATE TABLE")):
                        ddl.append(line.strip())
        want = {f"{t}.{k}": n for t, c in self.expected.items()
                for k, n in c.items() if n}
        if seen != want:
            errors.append(f"statement counts {seen} != expected {want}")
        want_ddl = ["DROP TABLE IF EXISTS `region`;",
                    "DROP TABLE IF EXISTS `nation`;", "CREATE TABLE `nation` ("]
        if ddl != want_ddl:
            errors.append(f"catalog DDL {ddl} != {want_ddl}")
        sha = _sha256(script)
        if self.script_sha is None:
            self.script_sha = sha
        elif sha != self.script_sha:
            errors.append("script differs from the first job's script")
        return errors

    def traced(self, tr, out: str):
        os.makedirs(out)
        script, values = self._traced_dump(tr, os.path.join(out, "sync.sql"))
        state, n_applied = self._traced_apply(tr, os.path.join(out, "apply"))
        values.update({
            "core.diff.diff_s": tr.seconds("core.diff"),
            "core.diff.changes": values["core.diff.changes"] + n_applied,
            "streaming.runner.sync_s": tr.seconds("streaming.runner"),
        })
        return (script, state), values

    def _traced_dump(self, tr, script: str):
        spark = self.spark
        paths = self._dumps()
        with tr.span("sources.dump.split"):
            for p in paths:
                DU.read_dump_statements(spark, p).count()
        sides, rows = [], 0
        with tr.span("sources.dump.read"):
            for p in paths:
                frames, schemas = DU.read_sql_dump_with_schemas(
                    spark, p, dedup_pk=False, keep_seq=True,
                    ignore_missing=True, cache_statements=None)
                frames = {t: f.persist(StorageLevel.MEMORY_AND_DISK)
                          for t, f in frames.items()}
                rows += sum(f.count() for f in frames.values())
                sides.append((frames, schemas))
        (prod, prod_schemas), (backup, _) = sides
        catalog = DF.catalog_diff(prod, backup)
        changes, n_changes = {}, 0
        with tr.span("core.diff"):
            for t in catalog["common"]:
                ch = DF.snapshot_diff_fused(
                    prod[t], backup[t], prod_schemas[t].pk_cols
                ).persist(StorageLevel.MEMORY_AND_DISK)
                n_changes += sum(r[1] for r in DF.diff_stats(ch).collect())
                changes[t] = ch
        with tr.span("core.script.generate"):
            ddl = SC.ddl_statements(catalog, {
                t: s.create_stmt + ";" for t, s in prod_schemas.items()})
            combined = None
            for t in catalog["common"]:
                part = SC.generate_sync_script(
                    changes[t], t, prod_schemas[t].pk_cols
                ).withColumn("__tbl", F.lit(t))
                combined = (part if combined is None
                            else combined.unionByName(part))
            ordered = (combined.orderBy("section", "__tbl", "statement")
                       .persist(StorageLevel.MEMORY_AND_DISK))
            statements = ordered.count()
        with tr.span("core.script.write"):
            SC.write_script(ordered, script, header=_SCRIPT_HEADER, ddl=ddl)
        spark.catalog.clearCache()
        return script, {
            "sources.dump.split_s": tr.seconds("sources.dump.split"),
            "sources.dump.tokenize_s": (tr.seconds("sources.dump.read")
                                        - tr.seconds("sources.dump.split")),
            "sources.dump.rows": rows,
            "core.diff.changes": n_changes,
            "core.script.generate_s": tr.seconds("core.script.generate"),
            "core.script.write_s": tr.seconds("core.script.write"),
            "core.script.statements": statements,
            "core.script.mb": _mb(script),
        }

    def _traced_apply(self, tr, out: str):
        prod, backup = self._snapshots()
        with tr.span("core.diff"):
            changes = DF.snapshot_diff(prod, backup, _ORDERS_PK).persist(
                StorageLevel.MEMORY_AND_DISK)
            n = changes.count()
        with tr.span("streaming.runner"):
            state = incremental_sync_foreachbatch(
                self.spark, changes, backup, _ORDERS_PK, n_chunks=_CHUNKS,
                workdir=out)
        self.final_mb = sum(_mb(p) for p in glob.glob(
            os.path.join(out, "state_v*")))
        changes.unpersist()
        return state, n

    def layer_counters(self, c) -> dict[str, float]:
        s = c["streaming.runner"]
        return {
            "sources.dump.task_cpu_s": c["sources.dump.read"].cpu_s,
            "core.diff.shuffle_mb": c["core.diff"].shuffle_write_mb,
            "core.diff.spill_mb": c["core.diff"].disk_spill_mb,
            "streaming.runner.write_mb": s.output_mb,
            "streaming.runner.write_amp": s.output_mb / self.final_mb,
            "streaming.runner.tasks": s.tasks,
        }


# --- curate_web -------------------------------------------------------------

_WEB_HEAD = ('<html><head><title></title>'
             '<script type="text/javascript">var x = 1 < 2;</script>'
             '<style>p { color: #fff; }</style></head><body>'
             '<h1>Doc &amp; &lt;corpus&gt;</h1><!-- boilerplate\n nav --><p>')
_CURATE, _EMBED = "corpus_curate_web", "dedup_embedding_cosine"
#: CTEs of an oracle to materialize: DuckDB would otherwise re-evaluate
#: them on every step of a recursive CTE that reads them
_MATERIALIZE = {_CURATE: ("sym", "pd"), _EMBED: ()}


def _oracle_sql(key: str) -> str:
    sql = P.ORACLES[key]
    for cte in _MATERIALIZE[key]:
        head = f"\n{cte} AS ("
        if sql.count(head) != 1:
            raise RuntimeError(f"oracle of {key} has no CTE {cte}")
        sql = sql.replace(head, f"\n{cte} AS MATERIALIZED (")
    return sql


class CurateWeb(Workload):
    """Two registry keys over one corpus, each checked against its DuckDB
    oracle: ``corpus_curate_web`` (html_strip, quality filter, PII scrub,
    exact and MinHash-LSH dedup, components, paragraph dedup, packing)
    and ``dedup_embedding_cosine`` (``embedding_near_dup`` at threshold
    0.5 over the documents' 64-dimensional embeddings)."""

    name = "curate_web"

    def generate(self, directory: str) -> None:
        os.makedirs(directory)
        tables = {
            "documents": inputs.shift(inputs.documents(self.size["docs"]),
                                      "doc_id", self.seed),
            "embeddings": inputs.shift(
                inputs.embeddings(self.size["vectors"]), "vec_id", self.seed),
        }
        for t, table in tables.items():
            inputs.write(inputs.shuffle(table, self.seed),
                         os.path.join(directory, f"{t}.parquet"))
        self.inputs = directory
        self.con = None

    def _path(self, table: str) -> str:
        return os.path.join(self.inputs, f"{table}.parquet")

    @staticmethod
    def _collect(df):
        """A result's rows and schema: the job's output."""
        return df.collect(), df.schema

    def job(self, out: str):
        return {k: self._collect(P.QUERIES[k](self.spark, self.inputs))
                for k in (_CURATE, _EMBED)}

    def _oracle(self) -> duckdb.DuckDBPyConnection:
        """A connection holding each oracle's rows for these inputs,
        computed once."""
        if self.con is None:
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{self._path(t)}')")
            for k in (_CURATE, _EMBED):
                con.execute(f"CREATE TABLE expected_{k} AS {_oracle_sql(k)}")
            self.con = con
        return self.con

    def check(self, results) -> list[str]:
        errors = []
        for k, (rows, schema) in results.items():
            df = self.spark.createDataFrame(rows, schema)
            res = compare_query(k, df, self._oracle(),
                                f"SELECT * FROM expected_{k}")
            errors += [f"{k}: {m}" for m in res.mismatches]
        return errors

    def traced(self, tr, out: str):
        """``corpus_curate_web`` with its ``_curate_pipeline`` chain, then
        ``dedup_embedding_cosine``, one span per stage."""
        curated, values = self._traced_curate(tr)
        embedded, more = self._traced_embedding(tr)
        self.spark.catalog.clearCache()
        return {_CURATE: curated, _EMBED: embedded}, {**values, **more}

    def _traced_curate(self, tr):
        mem = StorageLevel.MEMORY_AND_DISK
        docs = self.spark.read.parquet(self._path("documents"))
        html = F.concat(
            F.lit(_WEB_HEAD),
            F.regexp_replace(T.html_escape_text("text"), " ", "</p>\n<p>"),
            F.lit("</p></body></html>"))
        with tr.span("pipeline.text.html_strip"):
            stripped = T.html_strip(
                docs.select("doc_id", html.alias("html"))).persist(mem)
            stripped.count()
        planted = stripped.select(
            "doc_id",
            F.when(F.col("doc_id") % P._PII_MOD == P._PII_REM,
                   F.concat(F.col("clean_text"), F.lit(" contact agent"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com now")))
            .otherwise(F.col("clean_text")).alias("text"))
        with tr.span("pipeline.text.quality_score"):
            filtered = (T.quality_score(planted, carry=("text",))
                        .where(F.col("quality_score") >= P._CURATE_QUALITY_MIN)
                        .select("doc_id", "text", "quality_score"))
            scr = F.regexp_replace(
                F.regexp_replace("text", T.EMAIL_PATTERN, "<EMAIL>"),
                T.PHONE_PATTERN, "<PHONE>")
            scrubbed = filtered.select(
                "doc_id", "quality_score",
                (scr != F.col("text")).alias("had_pii"),
                scr.alias("text")).persist(mem)
            scrubbed.count()
        with tr.span("pipeline.dedup.exact"):
            keep_exact = (D.exact_dedup(scrubbed)
                          .select(F.col("keep_id").alias("doc_id"))
                          .localCheckpoint(eager=True))
        survivors = scrubbed.join(keep_exact, "doc_id", "left_semi")
        with tr.span("pipeline.dedup.minhash_candidates"):
            candidates = D.lsh_candidate_pairs(
                D.minhash_signatures(survivors, 3, slim=True)).count()
        with tr.span("pipeline.dedup.minhash"):
            pairs = D.minhash_lsh_dedup(survivors).persist(mem)
            n_pairs = pairs.count()
        with tr.span("pipeline.dedup.components"):
            comp = D.connected_components(pairs).persist(mem)
            comp.count()
        with tr.span("curate.select"):
            dropped = comp.where(
                F.col("component") != F.col("doc_id")).select("doc_id")
            kept = keep_exact.join(dropped, "doc_id", "left_anti")
            curated = (scrubbed.join(kept, "doc_id", "left_semi")
                       .localCheckpoint(eager=True))
        with tr.span("pipeline.dedup.paragraph"):
            para = D.paragraph_dedup(
                curated.select("doc_id", "text")).persist(mem)
            para.count()
        cleaned = (para.where(F.col("clean_text") != "")
                   .select("doc_id", F.col("clean_text").alias("text")))
        with tr.span("pipeline.text.pack"):
            packed = T.pack_greedy(cleaned).persist(mem)
            packed.count()
        with tr.span("curate.collect"):
            result = self._collect(
                packed.join(curated.select("doc_id", "quality_score",
                                           "had_pii"), "doc_id")
                .select("doc_id", "shard", "bin_id", "n_tokens",
                        "quality_score", "had_pii"))
        return result, {
            "pipeline.text.html_strip_s": tr.seconds("pipeline.text.html_strip"),
            "pipeline.text.quality_score_s":
                tr.seconds("pipeline.text.quality_score"),
            "pipeline.text.pack_s": tr.seconds("pipeline.text.pack"),
            "pipeline.dedup.exact_s": tr.seconds("pipeline.dedup.exact"),
            "pipeline.dedup.minhash_s": tr.seconds("pipeline.dedup.minhash"),
            "pipeline.dedup.minhash_candidates": candidates,
            "pipeline.dedup.minhash_yield": n_pairs / max(candidates, 1),
            "pipeline.dedup.components_s":
                tr.seconds("pipeline.dedup.components"),
            "pipeline.dedup.paragraph_s": tr.seconds("pipeline.dedup.paragraph"),
        }

    def _traced_embedding(self, tr):
        emb = self.spark.read.parquet(self._path("embeddings"))
        with tr.span("pipeline.vector.check_dim"):
            dim, n = check_dim_count(emb)
        with tr.span("pipeline.dedup.embedding"):
            result = self._collect(D.embedding_near_dup(
                emb, threshold=0.5, dim=dim, corpus_n=n))
        # the LSH blocking does not depend on the threshold: at -1 every
        # candidate pair passes the cosine verify
        with tr.span("pipeline.dedup.embedding_candidates"):
            candidates = D.embedding_near_dup(emb, threshold=-1.0, dim=dim,
                                              corpus_n=n).count()
        n_pairs = len(result[0])
        return result, {
            "pipeline.dedup.embedding_s": tr.seconds("pipeline.dedup.embedding"),
            "pipeline.dedup.embedding_candidates": candidates,
            "pipeline.dedup.embedding_pairs": n_pairs,
            "pipeline.dedup.embedding_yield": n_pairs / max(candidates, 1),
        }

    def layer_counters(self, c) -> dict[str, float]:
        e = c["pipeline.dedup.embedding"]
        return {"pipeline.dedup.embedding_task_cpu_s": e.cpu_s,
                "pipeline.dedup.embedding_shuffle_mb": e.shuffle_write_mb}


WORKLOADS = {w.name: w for w in (Sync, CurateWeb)}
