package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The operator registry's invariants that the [[Check]] types cannot
  * enforce. An oracle or a verify-only mark can no longer name a missing
  * operator — each is part of its operator's one record — but a name can
  * still be declared twice, a rows-only twin can still be misspelt, and the
  * bench can still be hollowed out by marking too much verify-only. */
class OpRegistrySpec extends AnyFunSuite {

  private val byName = SparkEntry.ops.groupBy(_.name)

  test("operator names are unique across families") {
    // the driver views are Maps: a second record under one name would
    // silently replace the first
    val dup = byName.collect { case (n, rs) if rs.size > 1 => n }
    assert(dup.isEmpty, s"operators declared more than once: $dup")
  }

  test("every RowsOnly twin names a registered op with an oracle") {
    // a rows-only operator carries no SQL of its own; its proof is the
    // twin's hash match, so the twin must exist and carry SQL
    val unproven = SparkEntry.ops.collect {
      case Op(n, _, RowsOnly(twin)) if !SparkEntry.oracleSql.contains(twin) =>
        s"$n -> $twin"
    }
    assert(unproven.isEmpty, s"rows-only operators without an oracle twin: $unproven")
  }

  test("the benched set keeps at least 50 ops") {
    val benched = SparkEntry.queries.keySet -- SparkEntry.verifyOnly
    assert(benched.size >= 50, s"only ${benched.size} benched operators")
  }
}
