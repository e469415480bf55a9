package graft.tableone

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Stratum-value sanitization and column-ordering policy.
  *
  * The stratification column's distinct values become output column names,
  * so they are normalized the way the reference does
  * (/root/reference/tableone_pyspark.py:89-92, :172-174):
  * null -> "MISSING", spaces -> "_", non-ASCII runs -> "?".
  * Two raw values that sanitize to the same name merge into one stratum
  * (reference behavior, SURVEY.md §7.4). TableOne groups by [[rawKey]]
  * and names the few distinct raw values with [[stratValue]] on the
  * driver, merging the groups that collide; [[stratColumn]] is the
  * per-row form of the same mapping, and the two must agree.
  */
object Sanitize {

  val Missing = "MISSING"

  /** Unsanitized stratum key of a (possibly non-string) stratification
    * column: its string form, null -> "MISSING". */
  def rawKey(c: Column): Column = coalesce(c.cast("string"), lit(Missing))

  /** Sanitized version of a (possibly non-string) stratification column.
    * Single-pass custom expression; the two-regex formulation cost ~2x
    * the whole aggregation underneath it at 600k rows. */
  def stratColumn(c: Column): Column =
    graft.functions.HashFunctions.sanitizeStrat(rawKey(c))

  /** Driver-side equivalent for already-collected raw values. */
  def stratValue(v: Any): String =
    if (v == null) Missing
    else v.toString.replace(" ", "_").replaceAll("[^\\x00-\\x7F]+", "?")

  /** Stratum display order: alphabetical, except "Yes" then "No" first and
    * "MISSING" last (/root/reference/tableone_pyspark.py:100-115 — the
    * prepend loop over a sorted list yields [Yes, No, rest..., MISSING]).
    */
  def orderStrata(values: Seq[String]): Seq[String] = {
    val sorted = values.distinct.sorted
    var head = List.empty[String]
    val tail = scala.collection.mutable.ArrayBuffer.empty[String]
    sorted.foreach {
      case c @ ("No" | "Yes") => head = c :: head // sorted: No first, so head ends [Yes, No]
      case Missing            => ()
      case c                  => tail += c
    }
    head ++ tail ++ (if (sorted.contains(Missing)) Seq(Missing) else Nil)
  }

  /** Category row-ordering key within a variable
    * (/root/reference/tableone_pyspark.py:294-298): Yes=1, No=2, other=3,
    * values matching missing|unknown|other (case-insensitive, substring)=5,
    * the null-fill sentinel MISSING=6; ties broken alphabetically. The
    * driver-side form of the reference's Spark expression: full Unicode
    * lower-casing as Spark's `lower` does (the Kelvin sign lowers to
    * "k"), then an unanchored `find`, as `rlike` matches.
    */
  def categoryOrderKey(v: String): Int = v match {
    case "Yes"   => 1
    case "No"    => 2
    case Missing => 6
    case _ if OtherLike.findFirstIn(v.toLowerCase(java.util.Locale.ROOT)).isDefined => 5
    case _       => 3
  }

  private val OtherLike = "missing|unknown|other".r
}
