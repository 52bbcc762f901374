package mlkbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of a Delta source table shaped like TPC-H `lineitem`
  * (the column names and types of the sf0.1 test data), partitioned by
  * `l_shipyear`, a low-cardinality column derived from `l_shipdate`.
  *
  * A file is an id range plus a rewrite generation. Generation 0 holds every
  * id of the range; a rewrite (the UPDATE/DELETE shape) deletes about one
  * row in five that survived the earlier generations and bumps
  * `l_quantity` on about one in three. Every value is a pure function of
  * (seed, id, generation), so the generator knows each file's rows without
  * reading anything back: its record of the live rows is the sum of the
  * per-file records of the files it has added and not removed.
  */
object Lineitem {
  val PartCol = "l_shipyear"

  val DataSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** The Delta table schema: data columns plus the partition column. */
  val TableSchema: StructType = DataSchema.add(StructField(PartCol, IntegerType))

  val Years: Seq[Int] = 1992 to 1998

  final case class FileSpec(fid: Int, year: Int, start: Long, rows: Int, gen: Int) {
    def path: String = f"$PartCol=$year/f$fid%06d-g$gen.parquet"
    /** What determines the file's rows. */
    def content: (Int, Long, Int, Int) = (year, start, rows, gen)
  }

  /** Row count and order-insensitive content hash of a set of rows. */
  final case class Digest(rows: Long, hash: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  }
  object Digest { val empty: Digest = Digest(0L, 0L) }

  /** Sum of a 40-bit row hash over the table columns, in table order: no
    * overflow below 8M rows, and equal multisets of rows give equal sums.
    */
  private val HashMod = 1L << 40
  def rowHash: Column = pmod(xxhash64(TableSchema.fieldNames.toIndexedSeq.map(col): _*), lit(HashMod))

  def digest(df: DataFrame): Digest = {
    val r = df.select(TableSchema.fieldNames.toIndexedSeq.map(col): _*)
      .agg(count(lit(1)), coalesce(sum(rowHash), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  /** The rows of `files`, spread over four Spark partitions. */
  def frame(spark: SparkSession, seed: Long, files: IndexedSeq[FileSpec]): DataFrame = {
    val n = files.size
    val slices = math.min(n, 4)
    def lookup[T: scala.reflect.runtime.universe.TypeTag](xs: Seq[T]): Column =
      element_at(typedLit(xs), col("k").cast("int") + 1)
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    val g = col("gen")
    val base = spark.range(0, n, 1, slices).withColumnRenamed("id", "k")
      .select(
        lookup(files.map(_.fid)).as("fid"), lookup(files.map(_.year)).as(PartCol),
        lookup(files.map(_.start)).as("start"), lookup(files.map(_.rows)).as("rows"),
        lookup(files.map(_.gen)).as("gen"))
      .withColumn("id", explode(sequence(col("start"), col("start") + col("rows") - 1)))
      // a row survives generation g unless its g-th hash deletes it; the
      // first id of a range always survives, so no rewrite is empty
      .filter(expr(s"aggregate(sequence(1, greatest(gen, 1)), true, (acc, x) -> " +
        s"acc AND (x > gen OR id = start OR pmod(xxhash64(id, ${seed}L, x), 5) <> 0))"))
      .withColumn("bumps", expr(s"aggregate(sequence(1, greatest(gen, 1)), 0, (acc, x) -> " +
        s"acc + IF(x <= gen AND pmod(xxhash64(id, ${seed}L, x, 7), 3) = 0, 1, 0))"))
    val qty = (pmod(h(3), lit(50)) + 1 + col("bumps")).cast(DoubleType)
    base.select(
      col("fid"),
      (floor(col("id") / 4) + 1).as("l_orderkey"),
      (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(1000L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast(IntegerType).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (pmod(h(4), lit(100000L)) / 100.0 + 900.0), 2).as("l_extendedprice"),
      (pmod(h(5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(6), lit(9L)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(h(7), lit(3L)) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (pmod(h(8), lit(2L)) + 1).cast("int"))
        .as("l_linestatus"),
      date_add(make_date(col(PartCol), lit(1), lit(1)), pmod(h(9), lit(365L)).cast("int"))
        .cast(TimestampType).as("l_shipdate"),
      col(PartCol))
  }

  /** Write one parquet file per spec under `tableDir` (partition
    * directories, Delta layout: the partition column is not stored) and
    * return each file's digest and byte length. Specs with the same content
    * are written once and hard-linked: the parquet writer's per-file cost
    * would otherwise make generation slower than the mirror it feeds.
    */
  def write(spark: SparkSession, seed: Long, tableDir: String,
      files: IndexedSeq[FileSpec]): Map[Int, (Digest, Long)] = {
    val distinct = files.groupBy(_.content).values.map(_.minBy(_.fid)).toIndexedSeq.sortBy(_.fid)
    val tmp = s"$tableDir/_gen_tmp"
    // a few tasks each write many files (one per fid) instead of one task
    // per file, which would cost a task per tiny file
    frame(spark, seed, distinct)
      .select(("fid" +: DataSchema.fieldNames.toIndexedSeq).map(col): _*)
      .write.mode("overwrite").partitionBy("fid").parquet(tmp)
    val fs = new Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byFid = distinct.map(f => f.fid -> f).toMap
    val written = fs.listStatus(new Path(tmp)).filter(_.isDirectory).map { d =>
      val spec = byFid(d.getPath.getName.stripPrefix("fid=").toInt)
      val part = fs.listStatus(d.getPath).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      require(part.length == 1, s"generator wrote ${part.length} files for fid ${spec.fid}")
      val dst = new Path(tableDir, spec.path)
      fs.mkdirs(dst.getParent)
      require(fs.rename(part.head, dst), s"rename ${part.head} -> $dst failed")
      spec.content -> (spec.fid, fs.getFileStatus(dst).getLen)
    }.toMap
    require(written.size == distinct.size, s"generator wrote ${written.size} of ${distinct.size} files")
    fs.delete(new Path(tmp), true)
    val digests = frame(spark, seed, distinct)
      .groupBy("fid").agg(count(lit(1)), sum(rowHash))
      .collect().map(r => byFid(r.getInt(0)).content -> Digest(r.getLong(1), r.getLong(2))).toMap
    def local(f: FileSpec) = java.nio.file.Paths.get(new Path(tableDir, f.path).toUri.getPath)
    files.map { f =>
      val (origFid, len) = written(f.content)
      if (f.fid != origFid) java.nio.file.Files.createLink(local(f), local(byFid(origFid)))
      f.fid -> (digests(f.content), len)
    }.toMap
  }

  /** File row counts with a skewed size distribution summing to `total`:
    * most files are small (log-uniform in [lo, hi) rows), `big` files share
    * the rest, each at least `bigMin` rows.
    */
  def skewedSizes(rng: scala.util.Random, files: Int, big: Int, total: Long,
      lo: Int, hi: Int, bigMin: Int): IndexedSeq[Int] = {
    val small = IndexedSeq.fill(files - big)(
      math.exp(math.log(lo) + rng.nextDouble() * math.log(hi.toDouble / lo)).toInt)
    val rest  = total - small.sum
    require(rest >= bigMin.toLong * big, s"$total rows cannot fill $big big files after ${small.sum} small rows")
    val w     = IndexedSeq.fill(big)(0.2 + rng.nextDouble())
    val bigs0 = w.map(x => (bigMin + (rest - bigMin.toLong * big) * x / w.sum).toInt)
    val bigs  = bigs0.updated(0, bigs0.head + (rest - bigs0.sum).toInt)
    rng.shuffle(small ++ bigs)
  }
}
