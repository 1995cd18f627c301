package graft

/** Round-tooling main (test tree, not shipped in the library jar): exact
  * sym-diff between two registered entries at any SF — the documented way
  * to prove an append path ≡ its full rebuild at sf0.1, where the
  * quadratic all-pairs oracles are intractable in DuckDB.
  *
  * Usage: sbt "Test/runMain graft.SymDiff <sfDir> <entryA> <entryB>"
  */
object SymDiff {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val d = args(0)
    val a = SparkEntry.queries(args(1))(spark, d)
    val b = SparkEntry.queries(args(2))(spark, d)
    val ab = a.exceptAll(b).count(); val ba = b.exceptAll(a).count()
    println(s"SYMDIFF ${args(1)} vs ${args(2)}: a-b=$ab b-a=$ba rows=${a.count()}")
    assert(ab == 0 && ba == 0, s"sym-diff nonzero: a-b=$ab b-a=$ba")
  }
}
