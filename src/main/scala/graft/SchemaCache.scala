package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Schema-inference cache for parquet dirs that are IMMUTABLE for the
  * life of the JVM (guide §1: measure the overhead, then remove it).
  *
  * A bare `spark.read.parquet(dir)` EAGERLY infers the schema, and the
  * footer read runs as a one-task Spark job (~50-100 ms of serial
  * driver latency at any data size — measured with ReadProbe-style
  * listeners: infer ≈ 100 ms + 1 job, `.schema(...)` ≈ 25 ms + 0
  * jobs). The Tx read paths open every layer of a table on every read,
  * and every query re-opens its corpus tables, so the suite paid
  * hundreds of these jobs per run.
  *
  * Caching is sound ONLY because the cached paths never change
  * content:
  *  - corpus tables (`Tables.load`) are read-only inputs;
  *  - TxLog-managed dirs (`t/d/p<version>-<writer>-<nonce>`) are
  *    written once and never appended — a new commit writes a NEW
  *    nonce-named dir (vacuum deletes dirs, but a deleted dir is never
  *    read again, and the nonce makes name reuse impossible).
  * Callers whose paths can be REWRITTEN in place (gate-level flat
  * tables, ResultCache regeneration) must keep using bare
  * `spark.read.parquet`. [[invalidatePrefix]] covers the one rewrite
  * the bench does (the 10× scaling replica).
  *
  * How a dir gets its entry:
  *  - a Tx writer primes it at commit time: `ZoneMap.write` already
  *    opens the just-written footers for the zone-map stats, and hands
  *    the Spark schema Spark's parquet writer stores there to
  *    [[primeFromFooter]] — no Spark job, no second footer open;
  *  - any other dir (corpus tables, or a dir whose footer lacks the
  *    Spark schema) is inferred on its first [[schemaOf]]/[[read]].
  * Either way the entry equals what inference returns, so a cached read
  * is plan-identical to the uncached one.
  */
object SchemaCache {

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  // far above any real run's dir count — a leak guard, not a tuning knob
  private val MaxEntries = 100000
  // footer key-value entry under which Spark's parquet writer stores
  // the written frame's schema as JSON
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def put(dir: String, schema: StructType): Unit = {
    if (cache.size >= MaxEntries) cache.clear()
    cache.put(dir, schema)
  }

  /** The schema `spark.read.parquet(dir)` resolves to. First call per
    * unprimed dir infers (and pays the footer job); later calls, and
    * every call on a primed dir, run no Spark job. */
  def schemaOf(spark: SparkSession, dir: String): StructType = {
    val hit = cache.get(dir)
    if (hit != null) hit
    else {
      val inferred = spark.read.parquet(dir).schema
      put(dir, inferred)
      inferred
    }
  }

  /** `spark.read.parquet(dir)`, schema-cached (see [[schemaOf]]). */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir)).parquet(dir)

  /** Record `dir`'s schema from one of its files' footer key-value
    * metadata, as inference would resolve it: a file-source relation
    * reads every column as nullable. A footer without Spark's schema
    * leaves the dir to inference on first read. */
  private[graft] def primeFromFooter(dir: String,
                                     footerMeta: java.util.Map[String, String]): Unit =
    Option(footerMeta.get(SparkSchemaKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => asNullable(s).asInstanceOf[StructType] }
      .foreach(put(dir, _))

  // Spark's own StructType.asNullable is internal to Spark
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Drop entries under `prefix` — for the one path the bench rewrites
    * in place (the scaling replica dir). */
  def invalidatePrefix(prefix: String): Unit = {
    val it = cache.keySet.iterator()
    while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
  }
}
