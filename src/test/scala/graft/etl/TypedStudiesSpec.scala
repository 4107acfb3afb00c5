package graft.etl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** Typed Dataset API agrees with the untyped (Column) plans. */
class TypedStudiesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val path = "fixtures/studies.json"

  private def ds = TypedStudies.dataset(spark, path)

  test("typed groupByKey count equals untyped groupBy count") {
    val typed = TypedStudies.countsByYear(ds)
    val untyped = Flatten(StudiesSource.readStudies(spark, path))
      .groupBy(col("start_year")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(typed == untyped)
  }

  test("typed classifier map equals the vectorized classifier column") {
    val typed = TypedStudies.classified(ds).collect().toMap
    val vec = Enrich.enrichAll(Flatten(StudiesSource.readStudies(spark, path)))
      .select("nct_id", "ai_determined_value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(typed == vec)
  }

  test("typed filter composes with compile-time field access") {
    val active = TypedStudies.activeInterventional(ds).collect()
    assert(active.nonEmpty)
    assert(active.forall(s =>
      s.study_type == "INTERVENTIONAL" && s.overall_status == "RECRUITING"))
  }
}
