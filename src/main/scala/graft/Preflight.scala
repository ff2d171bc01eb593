package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Fail-fast fixture preflight: diff every fixture parquet's FOOTER schema
  * against the declared `Schemas.*` and abort with a NAMED mismatch before
  * any query runs.
  *
  * Why this exists: the round-8 fixtures were silently regenerated with
  * `events.ts` as TIMESTAMP(MICROS) while the reader still assumed NANOS —
  * every events query produced plausible-looking wrong answers and the
  * whole round burned on one silent drift. Declared-schema reads
  * (`spark.read.schema(...)`) do NOT detect this: parquet happily serves a
  * compatible-but-differently-annotated column. The only authority on what
  * a fixture actually contains is its footer, so that is what is checked.
  *
  * The footer is read on the driver through [[Tables.parquetFooters]]: one
  * KB-sized read per table and no Spark job, where asking a schema-only
  * `spark.read.parquet` frame for its schema would start an inference job
  * per table. "Same schema as inference" means: the footer inference
  * reads, converted by Spark's own `ParquetFileFormat.readSchemaFromFooter`
  * with the converter inference builds from the session's conf, here with
  * `spark.sql.legacy.parquet.nanosAsLong=true`; the result equals
  * `spark.read.parquet(...)` schema under that conf (PreflightSpec pins it
  * on every fixture table). The conf is set on a clone, never on the
  * session, so the check touches no session state and concurrent checks
  * need no lock.
  *
  * `events.ts` is the one sanctioned variance: MICROS and NANOS are both
  * accepted because [[Tables.events]] sniffs the unit and handles either.
  */
object Preflight {
  private val expected: Seq[(String, StructType)] = Seq(
    "region" -> Schemas.region,
    "nation" -> Schemas.nation,
    "customer" -> Schemas.customer,
    "supplier" -> Schemas.supplier,
    "part" -> Schemas.part,
    "orders" -> Schemas.orders,
    "lineitem" -> Schemas.lineitem,
    "events" -> Schemas.events,
    "documents" -> Schemas.documents,
    "embeddings" -> Schemas.embeddings)

  /** Throws IllegalStateException naming every (table, column, want, got)
    * mismatch if any fixture's footer disagrees with its declared schema. */
  def check(spark: SparkSession, dir: String): Unit = {
    val problems = expected.flatMap { case (name, want) =>
      try diff(name, want, footerSchema(spark, dir, name))
      catch {
        case e: Exception => Seq(s"$name: footer unreadable: ${e.getMessage}")
      }
    }
    if (problems.nonEmpty)
      throw new IllegalStateException(
        s"fixture schema drift under $dir — refusing to run against " +
          s"unexpected data:\n  ${problems.mkString("\n  ")}")
  }

  /** Table `name`'s schema as inference would report it, read from its
    * footer. Nanos columns surface as LongType instead of aborting the
    * conversion; the events.ts case in [[accepts]] decides whether that
    * is acceptable. */
  private[graft] def footerSchema(spark: SparkSession, dir: String, name: String): StructType = {
    val conf = spark.sessionState.conf.clone()
    conf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    ParquetFileFormat.readSchemaFromFooter(
      Tables.parquetFooters(spark, dir, name).head, new ParquetToSparkSchemaConverter(conf))
  }

  private def diff(table: String, want: StructType, got: StructType): Seq[String] = {
    val gotByName = got.fields.map(f => f.name -> f.dataType).toMap
    val missing = want.fields.filterNot(f => gotByName.contains(f.name))
      .map(f => s"$table.${f.name}: declared ${f.dataType.sql} but ABSENT from footer")
    val extra = got.fields.filterNot(f => want.fieldNames.contains(f.name))
      .map(f => s"$table.${f.name}: in footer (${f.dataType.sql}) but not declared")
    val mismatched = want.fields.flatMap { f =>
      gotByName.get(f.name).filterNot(g => accepts(table, f.name, f.dataType, g))
        .map(g => s"$table.${f.name}: declared ${f.dataType.sql}, footer has ${g.sql}")
    }
    missing ++ extra ++ mismatched
  }

  /** Two sanctioned variances, everything else must match exactly:
    *  - any timestamp column: the fixtures carry isAdjustedToUTC=false, so
    *    footer inference reports TIMESTAMP_NTZ while the declared read
    *    maps the same physical micros to TimestampType (LTZ) — identical
    *    instants under the engine's pinned UTC session zone;
    *  - events.ts additionally accepts TIMESTAMP(NANOS) (LongType under
    *    nanosAsLong), the fixture generation Tables.events sniffs for. */
  private def accepts(table: String, column: String, want: DataType, got: DataType): Boolean =
    (want == got) ||
      (want == TimestampType && got == TimestampNTZType) ||
      (table == "events" && column == "ts" && want == TimestampType && got == LongType)
}
