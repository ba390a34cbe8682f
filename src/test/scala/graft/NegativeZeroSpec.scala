package graft

import org.apache.spark.sql.functions._

/** Round-3's only red row was a signed zero: DuckDB emitted `-0.0` for a
  * covariance that rounds to zero, Spark `+0.0` — every comparison
  * operator says equal, but the driver's bit-level hash (correctly)
  * disagrees. The fix is `round(...) + 0.0` on BOTH engines (IEEE 754:
  * `-0.0 + 0.0 = +0.0`). This spec pins the class of bug, not the
  * instance: no inventory key may emit a negative zero in any top-level
  * double/float column.
  *
  * The counts come from the one [[InventorySweep]]: after each key's frame
  * has run, the sweep counts the collected values whose raw bits are
  * `-0.0` (`Long.MinValue` for a double, `Int.MinValue` for a float), per
  * top-level double/float column. Runs at sf0.001 for suite speed; the
  * sf0.01 surface is covered by the bit-exact `tools/check_oracle.py` gate
  * (floats compared as packed little-endian bytes, mirroring the driver's
  * hash discipline). */
class NegativeZeroSpec extends SparkSuite {

  private def negativeZeros(r: InventorySweep.Record): Option[String] = {
    val cols = r.negativeZeros.collect {
      case (c, n) if n > 0 => s"${r.name} column '$c' contains $n negative zero(s)"
    }
    Option.when(cols.nonEmpty)(cols.mkString("; "))
  }

  test("no inventory key emits -0.0 in any double/float output column") {
    val offenders = InventorySweep(spark).offenders(negativeZeros)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the negative-zero count flags a -0.0 double and float column, not +0.0") {
    val ids = spark.range(3).select(col("id").cast("double").as("x"))
    val planted = InventorySweep.record("planted",
      ids.select((col("x") * -0.0).as("d"), (col("x") * -0.0).cast("float").as("f")))
    assert(planted.error.isEmpty, planted.error)
    assert(planted.negativeZeros === Seq("d" -> 3L, "f" -> 3L))
    assert(negativeZeros(planted).exists(_.contains("column 'd' contains 3")))
    val clean = InventorySweep.record("clean",
      ids.select((col("x") * -0.0 + 0.0).as("d")))
    assert(clean.error.isEmpty, clean.error)
    assert(clean.negativeZeros === Seq("d" -> 0L))
    assert(negativeZeros(clean).isEmpty)
  }
}
