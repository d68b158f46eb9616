package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One-shot (re)generator for the committed widget golden files:
  * `sbt "Test/runMain graft.GenGolden"`. Only run this DELIBERATELY
  * after an intended contract change, then re-review the diff —
  * regenerating to silence [[WidgetGoldenSpec]] defeats the gate. */
object GenGolden {
  def main(args: Array[String]): Unit = {
    // the suites' own session, so the goldens are written under the
    // configuration WidgetGoldenSpec checks them with
    val spark = SparkSpec.spark
    val dir = Paths.get("src/test/resources/golden")
    Files.createDirectories(dir)
    WidgetGoldenFixtures.shapes(spark).foreach { case (name, json) =>
      Files.write(dir.resolve(s"$name.json"),
        (json + "\n").getBytes(StandardCharsets.UTF_8))
      println(s"[golden] wrote $name (${json.length} chars)")
    }
    spark.stop()
  }
}
