package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.RangeStats

/** The edit script for one table: five disjoint key sets, one per edit
  * class. Every key is a source partition key.
  *
  *  - dropPartition:   the partition is absent from the target  → ONLY_IN_SOURCE
  *  - insertPartition: the target gains key + InsertOffset holding a copy
  *                     of the partition's first row             → ONLY_IN_TARGET
  *  - dropRow:         the target loses clustering row 1        → PARTITION_MISMATCH
  *  - mutateCell:      one value of row 1 is changed            → PARTITION_MISMATCH
  *  - nullCell:        one value of row 1 is nulled             → PARTITION_MISMATCH
  *
  * A narrow table (one row per partition) has no dropRow class.
  */
final case class Edits(
    dropPartition: Vector[Long],
    insertPartition: Vector[Long],
    dropRow: Vector[Long],
    mutateCell: Vector[Long],
    nullCell: Vector[Long]) {

  def ++(o: Edits): Edits = Edits(dropPartition ++ o.dropPartition,
    insertPartition ++ o.insertPartition, dropRow ++ o.dropRow,
    mutateCell ++ o.mutateCell, nullCell ++ o.nullCell)

  def toMap: Map[String, Vector[Long]] = Map(
    "drop_partition" -> dropPartition, "insert_partition" -> insertPartition,
    "drop_row" -> dropRow, "mutate_cell" -> mutateCell, "null_cell" -> nullCell)
}

/** One generated table: name, schema and per-partition rows, all pure
  * functions of (seed, key) so any key's rows can be recomputed without
  * the table.
  */
sealed trait Shape extends Serializable {
  def name: String
  def schema: StructType
  def wide: Boolean
  /** Number of compared (regular) columns. */
  def regularCols: Int
  /** Clustering rows of partition `k` (1 for a narrow table). */
  def rowsOf(seed: Long, k: Long): Int
  def rows(seed: Long, k: Long): Seq[Row]
  /** Row 1 of the partition with one value changed / nulled. */
  def mutate(r: Row): Row
  def nullify(r: Row): Row
  def rekey(r: Row, key: Long): Row
}

object Shape {
  private[perfbench] def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rng(seed: Long, k: Long, salt: Long) =
    new SplittableRandom(mix(mix(seed * 31 + salt) ^ k))
  private val epoch = LocalDate.of(1992, 1, 1)
  private def date(r: SplittableRandom) =
    java.sql.Date.valueOf(epoch.plusDays(r.nextInt(2557)))
  private def cents(r: SplittableRandom, max: Int) = r.nextInt(max * 100) / 100.0
  private def set(r: Row, i: Int, v: Any): Row = {
    val a = r.toSeq.toArray
    a(i) = v
    Row.fromSeq(a.toSeq)
  }

  /** TPC-H lineitem shape: pk l_orderkey, clustering l_linenumber,
    * 1-7 rows per partition, nine regular columns.
    */
  object Lineitem extends Shape {
    val name = "lineitem"
    val wide = true
    val regularCols = 9
    val schema: StructType = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", DateType)))
    def rowsOf(seed: Long, k: Long): Int = 1 + rng(seed, k, 1).nextInt(7)
    def rows(seed: Long, k: Long): Seq[Row] = {
      val r = rng(seed, k, 2)
      (1 to rowsOf(seed, k)).map { line =>
        Row(k, 1L + r.nextInt(20000), 1L + r.nextInt(1000), line,
          (1 + r.nextInt(50)).toDouble, cents(r, 100000), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
          "OF".charAt(r.nextInt(2)).toString, date(r))
      }
    }
    def mutate(r: Row): Row = set(r, 4, r.getDouble(4) + 1)
    def nullify(r: Row): Row = set(r, 8, null)
    def rekey(r: Row, key: Long): Row = set(r, 0, key)
  }

  /** TPC-H orders shape: pk o_orderkey, one row per partition, five
    * regular columns.
    */
  object Orders extends Shape {
    val name = "orders"
    val wide = false
    val regularCols = 5
    val schema: StructType = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
    private val priorities =
      Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def rowsOf(seed: Long, k: Long): Int = 1
    def rows(seed: Long, k: Long): Seq[Row] = {
      val r = rng(seed, k, 3)
      Seq(Row(k, 1L + r.nextInt(15000), "OFP".charAt(r.nextInt(3)).toString,
        cents(r, 500000), date(r), priorities(r.nextInt(priorities.size))))
    }
    def mutate(r: Row): Row = set(r, 3, r.getDouble(3) + 1)
    def nullify(r: Row): Row = set(r, 2, null)
    def rekey(r: Row, key: Long): Row = set(r, 0, key)
  }

  val all: Seq[Shape] = Seq(Lineitem, Orders)

  def named(name: String): Shape = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown table $name"))
}

/** Seeded tables of one run: `partitions` keys (0 until partitions) in
  * each of `shapes`. Targets are the source with an edit script applied.
  */
final case class Inputs(seed: Long, partitions: Int, shapes: Seq[Shape]) {

  import Inputs._

  /** Expected whole-job stats of source vs the target carrying `script`,
    * derived from the script alone (see [[Edits]] for the classes).
    */
  def expected(script: Map[String, Edits]): Map[String, RangeStats] =
    shapes.map { s =>
      val e = script(s.name)
      val n = (k: Long) => s.rowsOf(seed, k).toLong
      val sourceRows = (0L until partitions).map(n).sum
      val matchedRows = sourceRows - e.dropPartition.map(n).sum - e.dropRow.size
      val changed = (e.mutateCell.size + e.nullCell.size).toLong
      s.name -> RangeStats(
        matchedPartitions = partitions - e.dropPartition.size - e.dropRow.size -
          e.mutateCell.size - e.nullCell.size,
        mismatchedPartitions = e.dropRow.size + changed,
        onlyInSource = e.dropPartition.size,
        onlyInTarget = e.insertPartition.size,
        matchedRows = matchedRows,
        matchedValues = matchedRows * s.regularCols - changed,
        mismatchedValues = changed)
    }.toMap

  /** Expected repair statements per table: one INSERT per source row the
    * target lacks, one DELETE per extra target row, one UPDATE per
    * changed row.
    */
  def expectedRepair(script: Map[String, Edits]): Map[String, Long] =
    shapes.map { s =>
      val e = script(s.name)
      s.name -> (e.dropPartition.map(k => s.rowsOf(seed, k).toLong).sum +
        e.insertPartition.size + e.dropRow.size + e.mutateCell.size +
        e.nullCell.size)
    }.toMap

  /** Source-plus-target rows of one table pair. */
  def rowsDiffed(script: Map[String, Edits]): Long =
    shapes.map { s =>
      val e = script(s.name)
      val src = (0L until partitions).map(k => s.rowsOf(seed, k).toLong).sum
      2 * src - e.dropPartition.map(k => s.rowsOf(seed, k).toLong).sum -
        e.dropRow.size + e.insertPartition.size
    }.sum

  /** Partition keys present on either side. */
  def keys(script: Map[String, Edits], table: String): Seq[Long] =
    (0L until partitions) ++ script(table).insertPartition.map(_ + InsertOffset)

  def writeSource(spark: SparkSession, dir: String): Unit =
    shapes.foreach(s => write(spark, s, dir, k => s.rows(seed, k)))

  def writeTarget(spark: SparkSession, dir: String,
      script: Map[String, Edits]): Unit =
    shapes.foreach { s =>
      val e = script(s.name)
      val drop = e.dropPartition.toSet
      val dropRow = e.dropRow.toSet
      val mutate = e.mutateCell.toSet
      val nul = e.nullCell.toSet
      val insert = e.insertPartition.toSet
      write(spark, s, dir, { k =>
        val rows = s.rows(seed, k)
        val kept =
          if (drop(k)) Nil
          else if (dropRow(k)) rows.tail
          else if (mutate(k)) s.mutate(rows.head) +: rows.tail
          else if (nul(k)) s.nullify(rows.head) +: rows.tail
          else rows
        if (insert(k)) kept :+ s.rekey(rows.head, k + InsertOffset) else kept
      })
    }

  private def write(spark: SparkSession, s: Shape, dir: String,
      rowsOf: Long => Seq[Row]): Unit = {
    val slices = spark.sparkContext.defaultParallelism
    val keys = spark.sparkContext.range(0L, partitions.toLong, 1, slices)
    spark.createDataFrame(keys.flatMap(rowsOf), s.schema)
      .write.mode("overwrite").parquet(s"$dir/${s.name}.parquet")
  }
}

object Inputs {

  /** Inserted partitions live far above every generated key. */
  val InsertOffset = 1000000000L

  /** Per-class partition counts of the Perturb protocol's density
    * (keys ≡ 0 mod 53 / 59 / 61 / 67 / 71): about 8% of partitions.
    */
  def perturbDensity(partitions: Int): Seq[Int] =
    Seq(53, 59, 61, 67, 71).map(m => math.max(1, partitions / m))

  /** `total` damaged partitions spread evenly over `classes` classes. */
  def spread(total: Int, classes: Int = 5): Seq[Int] =
    (0 until classes).map(i => total / classes + (if (i < total % classes) 1 else 0))

  /** Draw disjoint key sets for each script, in order, from one seeded
    * permutation of the keys. Counts are per class in [[Edits]] order;
    * a narrow table spreads the script's total over its four classes.
    */
  def draw(seed: Long, partitions: Int, scripts: Seq[Seq[Int]])
      : Seq[Map[String, Edits]] = {
    val perTable = Shape.all.map { s =>
      val r = new SplittableRandom(Shape.mix(seed ^ s.name.hashCode))
      val perm = Array.tabulate(partitions)(_.toLong)
      var next = 0
      def take(ok: Long => Boolean): Long = {
        while (true) {
          require(next < partitions, s"${s.name}: edit script needs more keys")
          val j = next + r.nextInt(partitions - next)
          val t = perm(j); perm(j) = perm(next); perm(next) = t
          next += 1
          if (ok(t)) return t
        }
        throw new IllegalStateException("unreachable")
      }
      s.name -> scripts.map { counts0 =>
        val counts =
          if (s.wide) counts0
          else { // no dropRow class: spread the total over the other four
            val four = spread(counts0.sum, 4)
            Seq(four(0), four(1), 0, four(2), four(3))
          }
        val any = (_: Long) => true
        val multiRow = (k: Long) => s.rowsOf(seed, k) >= 2
        val cls = counts.zipWithIndex.map { case (c, i) =>
          Vector.fill(c)(take(if (i == 2) multiRow else any)).sorted }
        Edits(cls(0), cls(1), cls(2), cls(3), cls(4))
      }
    }.toMap
    scripts.indices.map(i => perTable.map { case (t, v) => t -> v(i) })
  }
}
