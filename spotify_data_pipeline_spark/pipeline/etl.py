"""Daily ETL: extract → transform → load (SURVEY.md §3.1).

The reference is an Airflow DAG of five PythonOperator tasks whose
inter-operator dataflow is files-at-known-paths keyed by ``ds_nodash``
(spotify_etl_v2.py:405-435). Here the DAG collapses into one driver
program where stages are DataFrame lineage; the bronze zone survives as
a real file boundary (replay/audit), exactly as the reference keeps it.

Reference semantics preserved (SURVEY §7.3 "do"):
- deterministic daily sample of 20 artist ids, re-derived (not passed)
  between stages — the reference's no-XCom contract (:91-97);
- per-run dedup scope: first occurrence wins within a run; cross-day
  duplicates flow to gold (D3, :143-144 + :388-395);
- bridge tables denormalize names (J1, :177-182, :257-262);
- track carries no album_id (the modeling gap, §1.1);
- schema-enforcing projection pads missing keys with NULL (P5, :327-331);
- bronze writes are same-path overwrite ⇒ idempotent re-runs (S9).

Deliberate deviations (SURVEY §7.3 "don't", documented):
- the album-pagination bug is fixed (sources/rest.py docstring, §5.1);
- gold defaults to idempotent partition-overwrite instead of blind
  WRITE_APPEND (a retried load after partial success double-appends in
  the reference, §4.2); ``gold_mode='append'`` restores reference
  behavior.

Scale: ingestion parallelism = key partitions, each with its own token
bucket (``num_partitions``; one fetch task per endpoint when unset, so
``min_interval_s`` is the run's request interval); everything
downstream is shuffle-free projections or key-local dedup; silver is
date-partitioned so daily queries prune to one partition. A run does
no repeated work: each endpoint is called once (the parsed fetch is
persisted while both bronze tables of a stage are written from it,
because recomputing it means calling the rate-limited API again);
every zone is read with its declared schema, so no job infers one; and
``transform`` and ``load`` write their five independent entities
concurrently. A 100-artist day is about 20 Spark jobs.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from spotify_data_pipeline_spark import schemas
from spotify_data_pipeline_spark.operators.dedup import exact_dedup
from spotify_data_pipeline_spark.operators.sampling import deterministic_sample
from spotify_data_pipeline_spark.sources.files import enforce_schema, read_json_blobs
from spotify_data_pipeline_spark.sources.rest import ApiClient, fetch_artists, fetch_paginated

ENTITIES = ("artist", "album", "album_artists", "track", "track_artists")
_GOLD_WRITE_MODES = {"idempotent": "overwrite", "append": "append"}


@dataclass
class PipelineConfig:
    bronze: str
    silver: str
    gold: str
    daily_sample: int = 20  # spotify_etl_v2.py:91 daily=20
    album_page_size: int = 25  # :150
    track_page_size: int = 50  # :232
    artist_batch_size: int = 50  # :108
    min_interval_s: float = 0.0  # 0.5 in the reference; 0 for local fixtures
    num_partitions: int | None = None
    gold_mode: str = "idempotent"  # 'idempotent' | 'append'


def _sample_ids(id_pool: DataFrame, run_date: str, n: int) -> DataFrame:
    """The reference's deterministic daily sample (O3):
    random.Random(int(ds)).sample(ids, 20) — same ds ⇒ same ids. Stable
    hash-ordering analog; re-derived identically by every stage."""
    ids = id_pool.select("artist_id").where(
        F.col("artist_id").isNotNull() & (F.col("artist_id") != "")
    ).distinct()
    return deterministic_sample(ids, ["artist_id"], n, seed=int(run_date))


def _bronze_path(cfg: PipelineConfig, run_date: str, name: str) -> str:
    return f"{cfg.bronze}/{run_date}/{name}"


def _for_each_entity(spark: SparkSession, write: Callable[[str], None]) -> None:
    """Run ``write(entity)`` for every entity at once, one thread each.

    The entities are independent lineages, so their jobs overlap on the
    cores. Each task carries the caller's local properties (job group,
    tags, scheduler pool) via ``inheritable_thread_target``, so
    cancelling the caller's group cancels these jobs too. Each task is
    wrapped on its own, so each thread gets its own copy: Spark SQL
    writes the execution id into that copy, and a shared one would mix
    up the threads' ids. The first failure, in ``ENTITIES`` order, is
    raised after every write has finished."""
    with ThreadPoolExecutor(len(ENTITIES)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), entity)
            for entity in ENTITIES
        ]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        raise errors[0]


def extract_artists(
    spark: SparkSession,
    client: ApiClient,
    id_pool: DataFrame,
    run_date: str,
    cfg: PipelineConfig,
) -> DataFrame:
    """spotify_etl_v2.py:100-132 — sample ids, batched lookup, project
    {id→artist_id, name→artist_name, followers.total→followers,
    popularity} (P1), write bronze artist.json."""
    sample = _sample_ids(id_pool, run_date, cfg.daily_sample)
    raw = fetch_artists(
        sample, client, batch_size=cfg.artist_batch_size,
        min_interval_s=cfg.min_interval_s, num_partitions=cfg.num_partitions,
    )
    parsed = raw.select(F.from_json("payload", schemas.RAW_ARTIST).alias("a"))
    artists = parsed.select(
        F.col("a.id").alias("artist_id"),
        F.col("a.name").alias("artist_name"),
        F.col("a.followers.total").alias("followers"),  # null-safe nested access (F6)
        F.col("a.popularity").alias("popularity"),
    ).where(F.col("artist_id").isNotNull())
    artists.write.mode("overwrite").json(_bronze_path(cfg, run_date, "artist"))
    return artists


def extract_albums(
    spark: SparkSession,
    client: ApiClient,
    id_pool: DataFrame,
    run_date: str,
    cfg: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """spotify_etl_v2.py:135-202 — re-derive the SAME daily sample (the
    determinism contract), paginate albums per artist, dedup per run
    (D1/D2), build the denormalizing bridge (J1), write bronze."""
    sample = _sample_ids(id_pool, run_date, cfg.daily_sample)
    raw = fetch_paginated(
        sample, client, "artist_albums", key_col="artist_id",
        page_size=cfg.album_page_size, min_interval_s=cfg.min_interval_s,
        num_partitions=cfg.num_partitions,
    )
    # Both bronze tables come from this one fetch: keep it, so the second
    # write does not page through the API again.
    parsed = raw.select(F.from_json("payload", schemas.RAW_ALBUM).alias("al")).select("al.*")
    parsed.persist()

    # D1: per-run dedup by album_id. Duplicate payloads are identical
    # (same source record fetched via different artists), so an
    # arbitrary-row dropDuplicates is semantically the reference's
    # first-wins set gate.
    albums = exact_dedup(
        parsed.select(
            F.col("id").alias("album_id"),
            F.col("name").alias("album_name"),
            F.col("release_date"),
            F.col("type"),  # effectively constant 'album' (P2 quirk)
            F.col("total_tracks"),
            F.col("album_group"),
        ).where(F.col("album_id").isNotNull()),
        ["album_id"],
    )

    # J1 + D2: explode artist array, composite-key dedup
    bridge = exact_dedup(
        parsed.select(
            F.col("id").alias("album_id"),
            F.col("name").alias("album_name"),
            F.explode("artists").alias("ba"),
        ).select(
            F.col("ba.id").alias("artist_id"),
            F.col("ba.name").alias("artist_name"),
            "album_id",
            "album_name",
        ).where(F.col("artist_id").isNotNull()),
        ["artist_id", "album_id"],
    )

    try:
        albums.write.mode("overwrite").json(_bronze_path(cfg, run_date, "album"))
        bridge.write.mode("overwrite").json(_bronze_path(cfg, run_date, "album_artists"))
    finally:
        parsed.unpersist()
    return albums, bridge


def extract_tracks(
    spark: SparkSession,
    client: ApiClient,
    run_date: str,
    cfg: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """spotify_etl_v2.py:205-282 — reads the PREVIOUS stage's bronze sink
    (GCS-as-dataflow, SURVEY §3.1), distinct album ids (O2), paginate
    tracks, per-run dedup, bridge build, write bronze."""
    # our bronze is JSONL (df.write.json), not the reference's
    # pretty-printed arrays — multiline=False so the scan is line-splittable
    albums = read_json_blobs(
        spark, _bronze_path(cfg, run_date, "album"), schemas.ALBUM, multiline=False
    )
    album_ids = albums.select(F.col("album_id")).where(
        F.col("album_id").isNotNull()
    ).distinct()
    if cfg.num_partitions is None:
        # One fetch task, as for the album sample. AQE does not coalesce
        # shuffles inside the cached plan below, so without this the
        # fetch would run in spark.sql.shuffle.partitions tasks (the
        # distinct's), each with its own token bucket.
        album_ids = album_ids.coalesce(1)

    raw = fetch_paginated(
        album_ids, client, "album_tracks", key_col="album_id",
        page_size=cfg.track_page_size, min_interval_s=cfg.min_interval_s,
        num_partitions=cfg.num_partitions,
    )
    parsed = raw.select(F.from_json("payload", schemas.RAW_TRACK).alias("tr")).select("tr.*")
    # One fetch for both bronze tables, as in extract_albums.
    parsed.persist()

    # D1: a track on multiple albums is kept once (no album_id column —
    # the reference's modeling gap, preserved)
    tracks = exact_dedup(
        parsed.select(
            F.col("id").alias("track_id"),
            F.col("name").alias("track_name"),
            F.col("track_number"),
            F.col("duration_ms"),
        ).where(F.col("track_id").isNotNull()),
        ["track_id"],
    )

    bridge = exact_dedup(
        parsed.select(
            F.col("id").alias("track_id"),
            F.col("name").alias("track_name"),
            F.explode("artists").alias("ta"),
        ).select(
            F.col("ta.id").alias("artist_id"),
            F.col("ta.name").alias("artist_name"),
            "track_id",
            "track_name",
        ).where(F.col("artist_id").isNotNull()),
        ["track_id", "artist_id"],
    )

    try:
        tracks.write.mode("overwrite").json(_bronze_path(cfg, run_date, "track"))
        bridge.write.mode("overwrite").json(_bronze_path(cfg, run_date, "track_artists"))
    finally:
        parsed.unpersist()
    return tracks, bridge


def transform(spark: SparkSession, run_date: str, cfg: PipelineConfig) -> None:
    """spotify_etl_v2.py:285-376 — bronze JSON → declared-schema
    projection (P5: select, order, cast, NULL-pad) → silver parquet.
    Bronze is read with each entity's declared schema, so no job infers
    one; keys the JSON writer dropped (all-NULL columns) read as NULL.
    The five entities are independent lineages, written concurrently
    (``_for_each_entity``). Row→columnar happens in the parquet writer
    (the reference's pandas/pyarrow hop, vectorized for free here)."""

    def write(entity: str) -> None:
        schema = schemas.ENTITY_SCHEMAS[entity]
        df = read_json_blobs(spark, _bronze_path(cfg, run_date, entity), schema, multiline=False)
        out = enforce_schema(df, schema)
        out.write.mode("overwrite").parquet(f"{cfg.silver}/{entity}/run_date={run_date}")

    _for_each_entity(spark, write)


def load(spark: SparkSession, run_date: str, cfg: PipelineConfig) -> None:
    """spotify_etl_v2.py:379-395 — silver parquet → gold warehouse.

    Reference: BigQuery load with default WRITE_APPEND ⇒ gold is an
    append-only accumulation across days AND double-appends on retry
    (S12/§4.2). Default here is idempotent per-date partition overwrite;
    ``gold_mode='append'`` reproduces reference accumulation semantics
    (still per-run deduped, D3). An unknown mode raises before anything
    is written; the five entities are then copied concurrently. A failed
    entity does not stop the others, so with ``gold_mode='append'`` a
    failed load has appended every other entity, and a retry appends
    those a second time."""
    mode = _GOLD_WRITE_MODES.get(cfg.gold_mode)
    if mode is None:
        raise ValueError(f"unknown gold_mode {cfg.gold_mode!r}")

    def write(entity: str) -> None:
        silver = spark.read.schema(schemas.ENTITY_SCHEMAS[entity]).parquet(
            f"{cfg.silver}/{entity}/run_date={run_date}"
        )
        silver.write.mode(mode).parquet(f"{cfg.gold}/{entity}/run_date={run_date}")

    _for_each_entity(spark, write)


def run_daily(
    spark: SparkSession,
    client: ApiClient,
    id_pool: DataFrame,
    run_date: str,
    cfg: PipelineConfig,
) -> None:
    """The full DAG run: extract×3 → transform → load (spotify_etl_v2.py:435)."""
    extract_artists(spark, client, id_pool, run_date, cfg)
    extract_albums(spark, client, id_pool, run_date, cfg)
    extract_tracks(spark, client, run_date, cfg)
    transform(spark, run_date, cfg)
    load(spark, run_date, cfg)


def read_gold(spark: SparkSession, cfg: PipelineConfig, entity: str) -> DataFrame:
    """Gold reader across all run dates (partition-pruned when filtered
    on run_date)."""
    return spark.read.option("basePath", f"{cfg.gold}/{entity}").parquet(
        f"{cfg.gold}/{entity}/run_date=*"
    )


def ensure_namespaces(spark: SparkSession, names: list[str]) -> list[str]:
    """Zone/namespace DDL, create-if-absent (SURVEY S13 — the reference
    creates its 7 GCS buckets idempotently, scripts/create_bucket.py:
    10-26, skipping ones that exist). The warehouse analog is catalog
    namespace DDL: ``CREATE NAMESPACE IF NOT EXISTS`` per zone — a
    retried bootstrap is a no-op, like the reference's Conflict catch.
    Returns the names that were newly created."""
    created = []
    for name in names:
        existed = spark.catalog.databaseExists(name)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {name}")
        if not existed:
            created.append(name)
    return created
