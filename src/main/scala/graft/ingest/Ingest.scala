package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Reference-parity ingestion: the readers, key assignment, and stream
  * splitting of the reference pipeline, re-expressed as lazy DataFrame
  * transforms (SURVEY §2.1 S3-S7, P1-P2, K1; §3 EP1).
  *
  * The reference's 3-stage queue topology (reader → datum worker → LMDB
  * writer, `/root/reference/serialize.py:403-407, 622-634`) collapses into
  * one declarative chain: `read → withKey → split streams → write.parquet`.
  * Catalyst pipelines the narrow ops; input-split parallelism replaces the
  * (broken) thread-per-stream readers.
  *
  * Intentional fixes over the reference (SURVEY §2.1 bug list): keys are
  * numeric and ordered numerically (not lexicographic strings); file lists
  * are explicitly sorted (not os.listdir order); the text reader works.
  */
object Ingest {

  // ---- K1: key assignment ----------------------------------------------
  /** Dense 1-based key in the given order — exact reference parity
    * (`serialize.py:30-32, 51-55`). Global row_number ⇒ single-partition
    * window: correct at any scale but serializes one pass; use
    * [[withScalableKey]] for bulk ingest where density matters but a
    * global sort does not. */
  def withDenseKey(df: DataFrame, order: Seq[Column], keyName: String = "key"): DataFrame =
    df.withColumn(keyName, row_number().over(Window.orderBy(order: _*)).cast("long"))

  /** Dense 1-based key without a global sort: a cheap count-per-partition
    * job yields cumulative offsets, broadcast-joined back on
    * `spark_partition_id()` and added to the intra-partition position
    * (the low 33 bits of `monotonically_increasing_id()`, which is
    * `pid << 33 | position` by construction). The zipWithIndex
    * construction — but entirely in the DataFrame API, so bulk ingest
    * stays inside Tungsten/whole-stage codegen instead of detouring
    * through an RDD of deserialized Rows (the former
    * `df.rdd.zipWithIndex` exits columnar execution for every row).
    * Order = partition order (deterministic for sorted file scans).
    * This is the 100 TB path: two narrow passes, no data shuffle —
    * the count job shuffles |partitions| rows, the offset join is a
    * broadcast. */
  def withScalableKey(df: DataFrame, keyName: String = "key"): DataFrame =
    withScalableKeyCounted(df, keyName)._1

  /** [[withScalableKey]] plus the exact row count the offset pass already
    * computed — callers needing both (positional alignment checks) get
    * the count for zero extra jobs. */
  private[graft] def withScalableKeyCounted(df: DataFrame,
                                            keyName: String = "key"): (DataFrame, Long) = {
    val spark = df.sparkSession
    val counts = df.groupBy(spark_partition_id().as("_pid"))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (p, n) => val o = acc; acc += n; Row(p, o) }
    // LocalRelation (not parallelize): the broadcast side is driver-local
    // literal data and should plan as a LocalTableScan, no RDD node
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offsets: _*),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("_pid", org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_off", LongType, nullable = false))))
    // LEFT join + loud assert: the two passes evaluate df independently,
    // and a partition id appearing only in the second pass (recomputed
    // nondeterministic source, AQE re-coalesce) would be silently DROPPED
    // by an inner join — wrong record count with no error
    val keyed = df.withColumn("_pid", spark_partition_id())
      .withColumn("_pos", monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(offDf), Seq("_pid"), "left")
      .filter(assert_true(col("_off").isNotNull,
        lit("withScalableKey: partition set changed between the count and key passes")).isNull)
      .withColumn(keyName, col("_off") + col("_pos") + lit(1L))
      .drop("_pid", "_pos", "_off")
    (keyed, acc)
  }

  // ---- S6/S7: tabular scans ---------------------------------------------
  /** CSV scan, header + inferred schema (`serialize.py:118-123`). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** JSON scan: list-of-dicts, or `{dataKey: [dicts...]}` when `dataKey`
    * is given (`serialize.py:124-141, 198-215`). The reference json.load()s
    * whole documents, so multiLine mode is the faithful reading. */
  def readJson(spark: SparkSession, path: String, dataKey: Option[String] = None): DataFrame =
    dataKey match {
      case None => spark.read.option("multiLine", "true").json(path)
      case Some(k) =>
        spark.read.option("multiLine", "true").json(path)
          .select(explode(col(k)).as("_rec")).select(col("_rec.*"))
    }

  /** A robust scan split into parsed rows and quarantined raw lines.
    * `good`/`bad` share ONE cached parse of the input (Spark refuses a
    * query whose required columns are only the internal corrupt-record
    * column, and the cache makes the split one parse pass, not two);
    * call [[QuarantinedScan.release]] after the sinks are written. */
  final case class QuarantinedScan(good: DataFrame, bad: DataFrame,
                                   private val parsed: DataFrame) {
    def release(): Unit = parsed.unpersist()
  }

  private def quarantine(df: DataFrame, corrupt: String): QuarantinedScan = {
    val cached = df.cache()
    QuarantinedScan(
      cached.filter(col(corrupt).isNull).drop(corrupt),
      cached.filter(col(corrupt).isNotNull).select(col(corrupt).as("raw")),
      cached)
  }

  /** Line-delimited JSON scan with malformed-record quarantine — the
    * robust bulk-ingest path. The reference json.load()s a whole document
    * and dies on the first bad byte (`serialize.py:124-141`); at 100 TB a
    * feed WILL contain torn lines and schema drift, and one bad record
    * must cost one quarantined row, not the job. `good` = rows parsed
    * against `schema`; `bad` = the raw text of every line that failed,
    * ready for a quarantine sink. */
  def readJsonlRobust(spark: SparkSession, path: String, schema: StructType)
      : QuarantinedScan = {
    val corrupt = "_graft_corrupt"
    quarantine(spark.read
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path), corrupt)
  }

  /** CSV scan with malformed-record quarantine (robust variant of
    * [[readCsv]]; same contract as [[readJsonlRobust]]). `schema` is
    * explicit — at scale the schema is a contract, not an inference. */
  def readCsvRobust(spark: SparkSession, path: String, schema: StructType)
      : QuarantinedScan = {
    val corrupt = "_graft_corrupt"
    quarantine(spark.read
      .schema(schema.add(corrupt, org.apache.spark.sql.types.StringType))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .csv(path), corrupt)
  }

  // ---- P1: label pop ------------------------------------------------------
  /** Split a keyed table into (inputs, labels) on the label column
    * (`serialize.py:146-154`). Both sides keep the key; alignment is by
    * construction, no runtime join. */
  def popLabel(df: DataFrame, labelCol: String, keyName: String = "key"): (DataFrame, DataFrame) =
    (df.drop(labelCol), df.select(col(keyName), col(labelCol)))

  // ---- P2: row → float32 vector -------------------------------------------
  /** All given columns cast to float32 and packed into one array column —
    * the reference's universal value coercion (`serialize.py:156-166, 304`).
    * Pure expression: stays in whole-stage codegen. */
  def toFeatureVector(df: DataFrame, cols: Seq[String], out: String = "features"): DataFrame =
    df.withColumn(out, array(cols.map(c => col(c).cast("float")): _*))

  // ---- S3: single-input image directory scan -------------------------------
  /** binaryFile scan whose root paths are the directories `depth` levels
    * below `dir` (1: `dir/<label>`, 2: `dir/<stream>/<label>`), listed on
    * the driver through the Hadoop `FileSystem` of `dir`, so any scheme
    * Spark reads works. Only directories are kept at each level, so stray
    * files above the leaves stay out, as they do under a `*` glob segment.
    * Glob metacharacters in the listed names are escaped: Spark expands a
    * root path that contains one, and a label named `a[1]` must stay that
    * one directory. No directory at `depth` fails loudly, as the empty
    * glob did, rather than sinking an empty dataset. */
  private def scanLeafDirs(spark: SparkSession, dir: String, depth: Int): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = (1 to depth).foldLeft(Seq(root)) { (parents, _) =>
      parents.flatMap(p => fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath).sorted)
    }
    require(dirs.nonEmpty, s"no label directories $depth level(s) under $dir")
    spark.read.format("binaryFile")
      .load(dirs.map(_.toString.replaceAll("""([\\{}\[\]*?])""", """\\$1""")): _*)
  }

  /** `dir/<label>/<img>` layout: binary scan + label from the parent dir
    * (`serialize.py:44-64`). Keys follow sorted (label, path) order.
    *
    * The driver lists the label directories of `dir` and hands THEM to
    * Spark as root paths, as the reference walks one label directory at a
    * time. A two-level `*` glob would list every file on the driver and then
    * hand each file to Spark as a root path: past 32 root paths
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) Spark
    * lists them again in a job of one task per FILE. With label roots,
    * up to 32 labels are listed on the driver with no job, and more run
    * one listing task per LABEL. Stray top-level files stay out; an
    * archive with no label directory fails here, as the empty glob did.
    * Files in a sub-directory of a label are not read: the glob matched
    * such a sub-directory as a root path and read its files under a
    * label named after it. */
  def readImageDir(spark: SparkSession, dir: String): DataFrame = {
    val df = scanLeafDirs(spark, dir, depth = 1)
      .select(
        col("path"),
        element_at(split(col("path"), "/"), -2).as("slabel"),
        col("content"))
    withDenseKey(df, Seq(col("slabel"), col("path")))
      .select("key", "path", "slabel", "content")
  }

  /** S4: n-images-per-record: `dir/<stream>/<label>/<img>`; the i-th
    * (sorted) file of each label in each stream forms one record
    * (`serialize.py:66-113`, sorted zip at :91). One wide row per record:
    * a struct column per stream. The `<stream>/<label>` directories are
    * the root paths, listed on the driver as in [[readImageDir]]. */
  def readImageStreams(spark: SparkSession, dir: String): DataFrame = {
    val scan = scanLeafDirs(spark, dir, depth = 2)
      .select(
        element_at(split(col("path"), "/"), -3).as("stream"),
        element_at(split(col("path"), "/"), -2).as("slabel"),
        col("path"), col("content"))
    // position of the file within its (stream, label) bucket, sorted —
    // this is the record-forming zip; a narrow per-bucket window.
    val ranked = scan.withColumn("pos",
      row_number().over(Window.partitionBy("stream", "slabel").orderBy("path")))
    val wide = ranked.groupBy("slabel", "pos")
      .pivot("stream")
      .agg(first(struct(col("path"), col("content"))))
    // ragged streams: the reference's sorted zip truncates each label to
    // its SHORTEST stream (serialize.py:91) — the pivot instead keeps the
    // longer stream's tail rows with NULL structs for the missing side,
    // which would hand null images to the training consumer
    val streamCols = wide.columns.filterNot(Set("slabel", "pos"))
    val complete =
      if (streamCols.isEmpty) wide
      else wide.filter(streamCols.map(col(_).isNotNull).reduce(_ && _))
    withDenseKey(complete, Seq(col("slabel"), col("pos"))).drop("pos")
  }

  /** One S5 stream: the binding-table column holding the file stem, plus
    * the directory and extension that turn a stem into a path — the
    * reference's per-stream `directory`/`binding_field`/`extension` spec
    * (`serialize.py:570-580,596-605`). */
  final case class BindingStream(field: String, dir: String, ext: String)

  /** S5: binding-driven scan: a binding table column holds the file stem
    * per record per stream; path = `dir/<stem><ext>`
    * (`serialize.py:28-40, 504-567`). Returns the keyed binding rows
    * joined with each stream's binary content. */
  def readWithBinding(spark: SparkSession, binding: DataFrame, streamCols: Seq[String],
                      dir: String, ext: String): DataFrame =
    readWithBinding(spark, binding, streamCols.map(BindingStream(_, dir, ext)))

  /** S5 with per-stream directories/extensions — the full reference spec,
    * where each `input`/`output` entry names its own `directory` and
    * `extension` (`serialize.py:570-580`). */
  def readWithBinding(spark: SparkSession, binding: DataFrame,
                      streams: Seq[BindingStream]): DataFrame = {
    val keyed = withDenseKey(binding, streams.map(s => col(s.field)))
    streams.foldLeft(keyed) { (acc, s) =>
      val absDir = new java.io.File(s.dir).getAbsolutePath.stripSuffix("/")
      val c = s.field
      // binaryFile reports URIs (file:/…); strip the scheme so the join key
      // matches the filesystem path derived from the binding stem.
      val scan = spark.read.format("binaryFile").load(s"${s.dir}/*${s.ext}")
        .select(regexp_replace(col("path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", "")
            .as(s"${c}_path"),
          col("content").as(s"${c}_content"))
      // LEFT join + loud failure on a dangling stem: the binding table is
      // the record-count contract (one record per binding row,
      // `serialize.py:31-37`) — an inner join would silently DROP rows
      // whose file is missing from the archive, and the dense keys above
      // would hide the loss downstream. The check is a FILTER (assert_true
      // under a predicate), not a projected column: projections get pruned
      // by aggregates like count(), predicates always evaluate.
      acc.withColumn(s"${c}_path", concat(lit(s"$absDir/"), col(c), lit(s.ext)))
        .join(scan, Seq(s"${c}_path"), "left")
        .filter(assert_true(col(s"${c}_content").isNotNull,
          concat(lit(s"readWithBinding: binding stem has no file: "),
            col(s"${c}_path"))).isNull)
    }
  }

  // ---- text corpus (S7 text branch + P4) -----------------------------------
  /** Text column selection: `options['text']` else first column
    * (`serialize.py:222-224`). */
  def selectTextColumn(df: DataFrame, textCol: Option[String]): Column =
    col(textCol.getOrElse(df.columns.head))

  /** P4: bag-of-words — corpus-wide vocabulary fit, then per-doc term
    * counts (`serialize.py:220-231`, sklearn CountVectorizer with token
    * pattern \b\w+\b). Fully distributed two-pass op — at web scale the
    * vocabulary is 10⁷-10⁸ terms, so it must stay a TABLE, never a
    * driver-collected literal:
    *
    *   pass 1  distinct tokens, range-sort-partitioned lexicographically
    *           (sklearn order), 0-based ids by the columnar two-pass key
    *           ([[withScalableKey]]) — no single-partition window, no
    *           collect; the sorted layout is pinned with an eager
    *           LOCAL CHECKPOINT (lineage cut), not a cache: range
    *           boundaries are re-sampled per execution (the q66 lesson),
    *           and a cache entry evicted while the returned frames are
    *           still live would silently recompute a DIFFERENT layout
    *           against the already-collected offsets — the checkpoint
    *           makes every downstream action read the one materialized
    *           layout, fails LOUDLY if its blocks are lost, and holds no
    *           session-lifetime CacheManager pin;
    *   pass 2  explode → per-(key, term) counts → shuffle join against the
    *           vocab table for ids → sparse sorted (idx, cnt) list per row.
    *
    * Work is O(tokens), not O(|V|·rows); the reference's dense vectors are
    * reconstructible via [[denseBow]] (export/parity helper).
    *
    * Returns (vocab table `(id, term)`, df + `out`:
    * array<struct<idx: long, cnt: float>> sorted by idx; empty array for
    * token-less rows). */
  def bagOfWords(df: DataFrame, textCol: String, keyCol: String = "key",
                 out: String = "bow"): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val toks = graft.functions.TextAnalysis.tokens(lower(col(textCol)))
    // ONE tokenization pass: the per-(key, term) counts are checkpointed
    // eagerly, then BOTH the vocab (distinct terms) and the sparse rows
    // derive from them — without this the corpus-wide regexp tokenize
    // (the operator's dominant CPU cost) ran twice
    val counts = df.select(col(keyCol), explode(toks).as("term"))
      .groupBy(keyCol, "term").count()
      .localCheckpoint(true)
    // ids follow the global sort: explicit range partitioning + local
    // sort (NOT orderBy — EliminateSorts drops a sort under the key
    // pass's count aggregate), partition count pinned so AQE cannot
    // coalesce the two passes differently, layout checkpoint-pinned so
    // EVERY pass and every later caller action reads ONE boundary sample
    // (see the scaladoc for why checkpoint, not cache)
    val nPart = spark.sessionState.conf.numShufflePartitions
    val sorted = counts.select("term").distinct()
      .repartitionByRange(nPart, col("term"))
      .sortWithinPartitions("term")
      .localCheckpoint(true)
    val vocab = withScalableKey(sorted, "id")
      .select(col("term"), (col("id") - 1L).as("id"))
    val sparse = counts.join(vocab, "term")
      .groupBy(keyCol)
      .agg(sort_array(collect_list(struct(
        col("id").as("idx"), col("count").cast("float").as("cnt")))).as(out))
    val empty = array().cast("array<struct<idx: bigint, cnt: float>>")
    (vocab, df.join(sparse, Seq(keyCol), "left")
      .withColumn(out, coalesce(col(out), empty)))
  }

  /** Dense reconstruction of a [[bagOfWords]] sparse row — the reference's
    * per-doc O(|V|) vector, for export/parity at small |V| only (a dense
    * web-scale vocab vector is exactly the layout bagOfWords avoids). */
  def denseBow(df: DataFrame, bowCol: String, vocabSize: Long,
               out: String = "bow_dense"): DataFrame = {
    // sequence(0, -1) is the DESCENDING [0, -1] in Spark — an empty vocab
    // must short-circuit, not produce a 2-wide "dense" vector
    require(vocabSize > 0, "denseBow needs a non-empty vocabulary")
    df.withColumn("_m", map_from_entries(col(bowCol)))
      .withColumn(out, transform(sequence(lit(0L), lit(vocabSize - 1)),
        i => coalesce(element_at(col("_m"), i), lit(0.0f))))
      .drop("_m")
  }
}
