package graft

import org.apache.spark.sql.SparkSession

/** The PASS/FAIL tally of a gate main. [[finish]] prints the final
  * `<NAME> OK` / `<NAME> <n> FAILURES` line the gate scripts in tools/
  * key on and exits 1 on any failure.
  */
final class Gate(name: String, failures: String = "FAILURES") {
  private var failed = 0

  /** Count one assertion; returns `ok`. */
  def count(ok: Boolean): Boolean = { if (!ok) failed += 1; ok }

  /** Count one assertion and print it as `PASS  <row>` / `FAIL  <row>`. */
  def check(ok: Boolean, row: String): Unit =
    println(s"${if (count(ok)) "PASS" else "FAIL"}  $row")

  /** Stop the session, print the verdict line, exit 1 if anything failed. */
  def finish(spark: SparkSession): Unit = {
    spark.stop()
    println(if (failed == 0) s"$name OK" else s"$name $failed $failures")
    if (failed > 0) sys.exit(1)
  }
}
