package graft.mock

import graft.flf.FlfFormat
import graft.schema._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Schema-driven mock-data generator — the reference's second pipeline
  * (reference: crates/evolution-mocker/src/mocker.rs:57-429, lib.rs:42-94),
  * re-expressed as `spark.range(n)` + seeded generator columns. Generation
  * is embarrassingly parallel (one narrow projection over a range scan, no
  * shuffle); the reference's hand-rolled worker distribution
  * (mocker.rs:235-245) is Spark's range partitioning.
  *
  * Improvement over the reference: an explicit seed (the reference uses an
  * unseeded ThreadRng, mocker.rs:129 — non-reproducible; SURVEY.md §7.4).
  */
object Mocker {

  /** Value ranges per dtype (reference: crates/evolution-mocker/src/lib.rs:34-39):
    * bool ~ Bernoulli(0.5); f16 ±256; f32 ±1e6; f64 ±1e9; i16 ±1e4;
    * i32 ±1e6; i64 ±1e9; Utf8 ~ random US first name (faker_rand).
    */
  val firstNames: Seq[String] = Seq(
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen", "Christopher",
    "Lisa", "Daniel", "Nancy", "Matthew", "Betty", "Anthony", "Sandra",
    "Mark", "Margaret", "Donald", "Ashley", "Steven", "Kimberly", "Andrew",
    "Emily", "Paul", "Donna", "Joshua", "Michelle", "Kenneth", "Carol",
    "Kevin", "Amanda", "Brian", "Melissa", "George", "Deborah", "Timothy",
    "Stephanie", "Ronald", "Rebecca", "Jason", "Sharon", "Edward", "Laura",
    "Jeffrey", "Cynthia", "Ryan", "Kathleen", "Jacob", "Amy", "Gary",
    "Angela", "Nicholas", "Shirley", "Eric", "Anna", "Jonathan", "Brenda",
    "Stephen", "Pamela", "Larry", "Emma", "Justin", "Nicole", "Scott",
    "Helen", "Brandon", "Samantha", "Benjamin", "Katherine", "Samuel",
    "Christine", "Gregory", "Debra", "Alexander", "Rachel", "Patrick",
    "Carolyn", "Frank", "Janet", "Raymond", "Catherine", "Jack", "Maria",
    "Dennis", "Heather", "Jerry", "Diane")

  /** Generate `n` schema-conforming typed rows. `numPartitions` defaults to
    * the session's default parallelism (the reference clamps workers to
    * logical cores, common/src/thread.rs:31-46).
    */
  def mock(spark: SparkSession, schema: FixedSchema, n: Long, seed: Long,
           numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism
    val base = spark.range(0, n, 1, parts)
    base.select(schema.columns.zipWithIndex.map { case (c, i) =>
      mockColumn(c, seed + i).as(c.name)
    }: _*)
  }

  /** Generate + serialize straight to fixed-length lines (mock pipeline
    * EP2, SURVEY.md §3): range → generators → pad/concat → write.text.
    */
  def mockToFlf(spark: SparkSession, schema: FixedSchema, n: Long, seed: Long,
                path: String, coalesce1: Boolean = false,
                numPartitions: Int = 0, mode: String = "errorifexists"): Unit =
    FlfFormat.write(mock(spark, schema, n, seed, numPartitions), schema, path,
      coalesce1, mode)

  /** Every integer of [lo, hi] equally likely, as a long column:
    * ⌊rand·(hi − lo + 1)⌋ + lo. The product stays below hi − lo + 1 in
    * double arithmetic for spans below 2^53, and the floor, unlike a
    * cast's truncation toward zero, draws lo and lands on 0 no more often
    * than on any other value.
    */
  def uniformInt(lo: Long, hi: Long, seed: Long): Column =
    floor(rand(seed) * (hi - lo + 1)) + lo

  /** One seeded generator column per dtype (reference ranges lib.rs:34-39,
    * generators lib.rs:57-94).
    */
  def mockColumn(c: FixedColumn, seed: Long): Column = {
    def uniform(lo: Double, hi: Double): Column = rand(seed) * (hi - lo) + lo
    c.dtype match {
      case FlfType.BooleanT => rand(seed) < 0.5
      case FlfType.Float16T => uniform(-256, 256).cast("float")
      case FlfType.Float32T => uniform(-1e6, 1e6).cast("float")
      case FlfType.Float64T => uniform(-1e9, 1e9)
      case FlfType.Int16T   => uniformInt(-10000, 10000, seed).cast("short")
      case FlfType.Int32T   => uniformInt(-1000000, 1000000, seed).cast("int")
      case FlfType.Int64T   => uniformInt(-1000000000L, 1000000000L, seed)
      case FlfType.Utf8T | FlfType.LargeUtf8T =>
        element_at(
          array(firstNames.map(lit): _*),
          (rand(seed) * firstNames.size).cast("int") + 1)
    }
  }
}
