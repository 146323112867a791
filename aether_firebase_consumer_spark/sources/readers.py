"""Scan builders (reference O1 Kafka source + the file formats the
reference lacks, SURVEY.md §2.2 row 1).

Batch: parquet / csv / json (+ avro when the spark-avro jar is on the
classpath). Streaming: file-directory streams and Kafka (gated — no
broker or kafka jar in the v1 image; the builder returns the configured
reader so production classpaths work unchanged).

The JSON-document decode path mirrors the reference's Avro-value decode
(``msg.value`` + ``msg.schema``, ``firebase/app/artifacts.py:310-321``):
``decode_json_docs`` turns a raw (key, value, topic) frame into typed
rows via an explicit schema — the "schema travels with the stream"
contract, with drift handled by SchemaDriftDetector (O14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str,
                 columns: list[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str,
             schema: T.StructType | str | None = None,
             header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)  # never inferSchema in production
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType | str | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str,
             columns: list[str] | None = None) -> DataFrame:
    """ORC scan — the other columnar lake format Spark ships natively
    (vectorized reader, predicate pushdown and column pruning same as
    parquet; footer stats drive row-group pruning identically)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def avro_jar_available(spark: SparkSession) -> bool:
    """Is the spark-avro datasource DEPLOYED? Routing is an EXPLICIT
    probe, not a blanket try/except around the read — a real read error
    (bad path, corrupt file) must surface, never silently reroute into
    the Python codec. The probe is Spark's own registry lookup (the
    same resolution ``spark.read.format("avro")`` performs); a bare
    ``Class.forName("...AvroFileFormat")`` is NOT sufficient — pyspark
    ships the API classes while the datasource module itself stays an
    external jar ("Avro is built-in but external data source module
    since Spark 2.4")."""
    try:
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.datasources.DataSource \
            .lookupDataSource("avro",
                              jvm.org.apache.spark.sql.internal.SQLConf.get())
        return True
    except Exception:
        return False


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan. The spark-avro jar (JVM-side, vectorized decode) WINS
    whenever it is on the classpath; the engine's pure-Python container
    reader (``sources.avro_codec.read_avro_container_py``: binaryFile
    scan + Arrow mapInPandas decode, parallel by file, per-row Python
    inside the batch) is strictly the no-jar escape hatch — at cluster
    scale the JVM path is the only acceptable hot path."""
    if avro_jar_available(spark):
        return spark.read.format("avro").load(path)
    from aether_firebase_consumer_spark.sources.avro_codec import (
        read_avro_container_py,
    )
    return read_avro_container_py(spark, path)


# ------------------------------------------------------------- streaming

def stream_file_source(spark: SparkSession, path: str,
                       schema: T.StructType | str,
                       fmt: str = "parquet") -> DataFrame:
    """File-directory stream — the test stand-in for Kafka with the same
    downstream pipeline (streams require an explicit schema)."""
    return spark.readStream.schema(schema).format(fmt).load(path)


def kafka_source_options(bootstrap: str, subscribe_pattern: str,
                         starting_offsets: str = "earliest",
                         max_offsets_per_trigger: int | None = None,
                         security: dict[str, str] | None = None
                         ) -> dict[str, str]:
    """Assemble the Kafka reader option map (reference consumer config
    ``conf/consumer/kafka.json:3-6``; security settings from env at
    ``firebase/app/config.py:79-94``). Split from the reader builder so
    the assembly is unit-testable without a broker or the kafka jar:
    subscribePattern carries the tenant-prefixed anchored regex from
    ``topic_pattern_to_regex``; maxOffsetsPerTrigger bounds micro-batch
    size (the scalable analogue of the reference's per-poll message
    cap); auto-commit is NEVER set — checkpointing owns offsets."""
    opts = {
        "kafka.bootstrap.servers": bootstrap,
        "subscribePattern": subscribe_pattern,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    for k, v in (security or {}).items():
        key = k if k.startswith("kafka.") else f"kafka.{k}"
        opts[key] = v
    return opts


def _is_source_missing_error(err: Exception) -> bool:
    """Does ``err`` mean "the kafka datasource jar is not on the
    classpath" (→ the jar-free fallback applies) as opposed to a REAL
    load failure (bad options, auth, unreachable broker) that must
    surface as-is? Matches Spark's source-resolution error class/
    message shapes across versions; anything else is not ours to
    swallow."""
    msg = f"{type(err).__name__}: {err}"
    cond = getattr(err, "getErrorClass", None) or \
        getattr(err, "getCondition", None)
    if cond is not None:
        try:
            if (cond() or "").startswith("DATA_SOURCE_NOT_FOUND"):
                return True
        except Exception:
            pass
    return any(sig in msg for sig in (
        "Failed to find data source",
        "Failed to find the data source",
        "DATA_SOURCE_NOT_FOUND",
        "ClassNotFoundException",
        "NoClassDefFoundError"))


def stream_kafka_source(spark: SparkSession, bootstrap: str,
                        subscribe_pattern: str,
                        starting_offsets: str = "earliest",
                        max_offsets_per_trigger: int | None = None,
                        security: dict[str, str] | None = None,
                        use_wire_fallback: bool = True) -> DataFrame:
    """Kafka source (reference O1/O2): subscribePattern carries the
    tenant-prefixed wildcard (``topic_pattern_to_regex``), checkpointing
    replaces manual offset commit (``conf/consumer/kafka.json:3-6``).

    The JVM spark-sql-kafka source is preferred (vectorized, full
    option surface). When its jar is absent — as in this image — and
    ``use_wire_fallback`` is set, the jar-free ``kafka_py`` source
    (``sources/kafka_pysource.py``: pure-Python wire protocol, same
    output schema including the timestamp columns — magic-2 record
    batches via Fetch v4) serves the stream
    instead, so the poll loop works either way. ``security`` options
    have no fallback equivalent (the wire client speaks PLAINTEXT
    only) — with security configured, jar absence stays an error."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
            bootstrap, subscribe_pattern, starting_offsets,
            max_offsets_per_trigger, security).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as err:
        # Fall back ONLY on the jar-missing/classpath error class: any
        # other load() failure (bad options, auth, unreachable broker)
        # must surface as-is — silently swapping in the PLAINTEXT
        # wire client would mask the real error and change semantics
        # against a live cluster (no TLS/SASL, no consumer-quota or
        # transactional semantics).
        if not _is_source_missing_error(err):
            raise
        if not use_wire_fallback or security:
            raise NotImplementedError(
                "kafka source requires the org.apache.spark:"
                "spark-sql-kafka jar on the classpath (absent in this "
                "environment)" + (" and the jar-free fallback does not "
                                  "support security options" if security
                                  else "")) from err
        from aether_firebase_consumer_spark.sources.kafka_pysource import (
            register_kafka_py,
        )
        register_kafka_py(spark)
        reader = (spark.readStream.format("kafka_py")
                  .option("bootstrap", bootstrap)
                  .option("subscribePattern", subscribe_pattern)
                  .option("startingOffsets", starting_offsets))
        if max_offsets_per_trigger is not None:
            reader = reader.option("maxOffsetsPerTrigger",
                                   str(max_offsets_per_trigger))
        return reader.load()


def decode_json_docs(raw: DataFrame, schema: T.StructType | str,
                     value_col: str = "value") -> DataFrame:
    """Decode a raw bytes/string value column into typed rows (the
    from_avro analogue for JSON payloads): value → from_json(schema),
    exploded to top-level columns, topic preserved when present."""
    value = F.col(value_col).cast("string")
    parsed = raw.withColumn("_doc", F.from_json(value, schema))
    keep = [c for c in ("topic", "timestamp") if c in raw.columns]
    return parsed.select(*keep, "_doc.*")
