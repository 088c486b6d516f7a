package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Closed-loop passes over a fixed list of `SparkEntry.queries`, each
  * written to the `noop` sink like `graft.Bench`. The seed sets the order
  * of the queries within every pass. The warm pass writes each query's
  * per-row hashes to `checkDir/<query>.hashes` instead, for the
  * order-insensitive output check. */
final class QueryPasses(spark: SparkSession, data: String, names: Seq[String], seed: Long,
                        tracer: Tracer, checkDir: String) extends Workload {
  private val rng = new scala.util.Random(seed)
  private val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
    sys.error(s"unknown query $n"))).toMap

  /** Drop what the query pinned, as `graft.Bench` does between reps. */
  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def storedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def warm(): Op = {
    new java.io.File(checkDir).mkdirs()
    val failures = rng.shuffle(names).flatMap { q =>
      try {
        val hashes = QueryPasses.rowHashes(fns(q)(spark, data))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(checkDir, s"$q.hashes"),
          hashes.mkString("", "\n", "\n"))
        None
      } catch { case e: Exception => Some(s"$q: $e") }
      finally release()
    }
    Op(Double.NaN, Double.NaN, Double.NaN, names.size, failures, Map.empty, () => Nil)
  }

  def op(traced: Boolean): Op = {
    var construct = 0.0
    var execute = 0.0
    val t0 = Clock.now()
    val failures = rng.shuffle(names).flatMap { q =>
      try {
        tracer.span("query", "other", q) {
          val a = Clock.now()
          val df = tracer.span("queries.construct", "construct", q)(fns(q)(spark, data))
          val b = Clock.now()
          tracer.span("queries.execute", "execute", q) {
            df.write.format("noop").mode("overwrite").save()
          }
          val c = Clock.now()
          construct += b - a
          execute += c - b
          if (traced) tracer.noteRetained(storedBytes())
        }
        None
      } catch { case e: Exception => Some(s"$q: $e") }
      finally release()
    }
    Op(Clock.now() - t0, construct, execute, names.size, failures, Map.empty, () => Nil)
  }
}

object QueryPasses {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One 64-bit hash per output row over every column (maps via their
    * JSON form, which `xxhash64` cannot take directly). Positional
    * renaming makes dotted or duplicate column names safe. */
  def rowHashes(df: DataFrame): Array[Long] = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    renamed.select(xxhash64(cols.toSeq: _*)).collect().map(_.getLong(0))
  }
}
