package graft

/** The one auxiliary benchmark main, [[Harness]], driven through
  * [[Harness.run]] on the shared test session with an explicit
  * environment. */
class HarnessSpec extends SparkSpec {

  /** An environment over `vars` that records every name a run reads. */
  private def recording(vars: (String, String)*): (Harness.Env, collection.Set[String]) = {
    val read = collection.mutable.Set.empty[String]
    (Harness.Env { k => read += k; vars.toMap.get(k) }, read)
  }

  test("an unknown or missing subcommand fails with the usage text") {
    val (env, _) = recording()
    Seq(Array("frobnicate"), Array.empty[String]).foreach { args =>
      val e = intercept[IllegalArgumentException](Harness.run(spark, args, env))
      assert(e.getMessage == Harness.usage)
    }
  }

  test("target prints one JSON line carrying the query's key, timed SPARK_GRAFT_REPS times") {
    // the retired per-harness rep names are set too: the harness must not read them
    val (env, read) = recording(
      "SPARK_GRAFT_SF_DIR" -> sfTiny, "SPARK_GRAFT_REPS" -> "2",
      "SPARK_GRAFT_TARGET_REPS" -> "5", "SPARK_GRAFT_TS_REPS" -> "5")
    val line = Harness.run(spark, Array("target", "q1_agg"), env)
    assert(!line.contains('\n'))
    assert(line.startsWith("""{"metric":"target_bench","""") && line.endsWith("}"))
    val reps = raw""""q1_agg":\{"min":[0-9.]+,"reps":\[([0-9.,]*)\]\}""".r
      .findFirstMatchIn(line).getOrElse(fail(s"no q1_agg record in: $line")).group(1)
    assert(reps.split(',').length == 2)
    assert(line.contains(s""""sf":"$sfTiny""""))
    assert(read.filter(_.endsWith("_REPS")) == Set("SPARK_GRAFT_REPS"))
  }
}
