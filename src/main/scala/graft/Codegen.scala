package graft

/** Generated-class cache sizing shared by every session the program
  * builds (`graft.finance.Cli.session()`, [[Bench]], [[ScaleSmoke]]).
  */
object Codegen {

  /** `spark.sql.codegen.cache.maxEntries` — a static conf, so it must be
    * set on the builder before the session exists.
    *
    * Spark's default is 100 entries. One ledger visit (statement import
    * plus yearly report) compiles about 190 distinct generated classes,
    * a Bench pass ~48 queries of several whole-stage units each, and the
    * smoke's banded-embedding plans inline 36+ dot products per row: none
    * of these working sets fits, so the LRU evicts every class before
    * its next use and janino recompiles the same code on every visit,
    * rep or entry (~1 s per ledger visit on 4 cores). 5000 holds all of
    * them with room to spare; a generated class is a few KB.
    */
  val cacheMaxEntries: Int = 5000
}
