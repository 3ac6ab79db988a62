package graft

import org.apache.spark.sql.DataFrame

/** The owner/consumer contract of every declared build memo: the
  * owner registry key always rebuilds and replaces the stored frame,
  * consumers reuse it, and the stored frame is row-identical to a
  * memo-free build. A fresh session (`newSession()`) has an empty memo
  * store, so building there consults no stored frame at any depth. */
class MemoSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("memo names are unique and every owner is a registry key") {
    assert(Memo.all.map(_.name).distinct.size == Memo.all.size)
    Memo.all.flatMap(_.owner).foreach { key =>
      assert(SparkEntry.queries.contains(key), s"unknown owner key $key")
    }
  }

  Memo.all.foreach { m =>
    test(s"${m.name} memo obeys the owner/consumer contract") {
      m.owner match {
        case Some(key) =>
          SparkEntry.queries(key)(spark, sfDir)
          val first = m.stored(spark, sfDir)
          assert(first.nonEmpty, s"owner $key stored no ${m.name} frame")
          SparkEntry.queries(key)(spark, sfDir)
          assert(!m.stored(spark, sfDir).exists(_ eq first.get),
            s"owner $key's second run kept the stored ${m.name} frame")
        case None =>
          m.get(spark, sfDir)
      }
      val kept = m.stored(spark, sfDir).get
      assert(m.get(spark, sfDir) eq kept,
        s"a ${m.name} consumer rebuilt instead of reusing")
      assert(rows(kept) == rows(m.refresh(spark.newSession(), sfDir)),
        s"stored ${m.name} frame diverged from a memo-free build")
    }
  }
}
