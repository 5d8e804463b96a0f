package graft

class FlagshipSpec extends SparkSpec {
  test("Flagship.run rejects an unknown variant and lists the valid ones") {
    val e = intercept[IllegalArgumentException](Flagship.run(spark, "/nonexistent", "jts"))
    assert(e.getMessage.contains("'jts'"))
    assert(Flagship.Variants.forall(e.getMessage.contains))
  }
}
