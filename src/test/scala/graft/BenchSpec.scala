package graft

import java.io.{ByteArrayOutputStream, File}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

class BenchSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  test("run: three timed passes per declared query; an undeclared name fails as -1") {
    val out = new File(Spill.newDir("graft_bench"), "bench_full.json").getPath
    val names = Seq("q_agg", "q_tpch_q6", "q_no_such_query")
    val buf = new ByteArrayOutputStream()
    val results = Console.withOut(buf) {
      Bench.run(spark, names, "/root/testdata/sf0.001", out)
    }
    assert(results.map(_._1) == names)
    assert(results.count(_._2.isLeft) == 1)

    val artifact = mapper.readTree(new File(out))
    for (n <- Seq("q_agg", "q_tpch_q6")) {
      val walls = artifact.get("passes").get(n).elements.asScala.map(_.asDouble).toSeq
      assert(walls.size == Bench.Passes && walls.forall(_ > 0), s"$n: $walls")
      assert(artifact.get("queries").get(n).asDouble > 0)
    }
    assert(artifact.get("queries").get("q_no_such_query").asInt == -1)
    assert(artifact.get("errors").has("q_no_such_query"))
    assert(artifact.get("pass_contended").size == Bench.Passes)
    assert(artifact.get("load_bound").asDouble == Bench.LoadBound)

    val last = buf.toString("UTF-8").split('\n').filter(_.nonEmpty).last
    assert(last.length <= Bench.LineBudget)
    val line = mapper.readTree(last)
    assert(line.get("metric").asText == "total")
    assert(line.get("n_failed").asInt == 1)
    assert(line.get("n_measured").asInt == names.size)
    assert(line.get("queries").get("q_no_such_query").asInt == -1)
  }

  test("compactLine: 240 queries fit the budget and keep every failure") {
    val results = (0 until 240).map { i =>
      f"q_synthetic_query_$i%03d" -> (if (i % 24 == 5) Left("Boom") else Right(i * 0.137))
    }
    val line = Bench.compactLine(
      Seq("metric" -> "total", "n_failed" -> 10, "artifact" -> "bench_full.json"), results)
    assert(line.length <= Bench.LineBudget)
    val queries = mapper.readTree(line).get("queries")
    val failures = results.collect { case (n, Left(_)) => n }
    assert(failures.size == 10)
    failures.foreach(n => assert(queries.get(n).asInt == -1, n))
    // the kept successes are the heaviest ones
    assert(queries.has("q_synthetic_query_239") && !queries.has("q_synthetic_query_000"))
  }
}
