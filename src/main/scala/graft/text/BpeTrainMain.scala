package graft.text

/** One-shot fixture generator: prints the trained merge table as the
  * Scala literal pinned into FixtureMerges. Kept in-tree so the
  * fixture is reproducible (`runMain graft.text.BpeTrainMain <sfDir>
  * [ranks]`). */
object BpeTrainMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val ranks = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = graft.LocalSpark.session("bpe-train")
    val docs = graft.Tables.documents(spark, dir)
    val merges = Bpe.train(docs, "text", ranks)
    println("FIXTURE_BEGIN")
    merges.grouped(4).foreach { g =>
      println("    " + g.map { case (a, b) => s"""("$a", "$b")""" }
        .mkString(", ") + ",")
    }
    println("FIXTURE_END")
    spark.stop()
  }
}
