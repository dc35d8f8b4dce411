package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{TopRow, TopRowBuf}

/** Buffer serde of the native argmax aggregate (`graft_top_row`). */
class TopRowSpec extends AnyFunSuite {

  private def buf(ord: Long, value: Long): TopRowBuf = {
    val b = new TopRowBuf
    b.ord = ord
    b.value = value
    b
  }

  test("serialize returns bytes a later serialize never rewrites") {
    val agg = TopRow(Literal(0L), Literal(0L))
    // equal-size payloads: the projection's reused output buffer fits
    // both exactly, the case where it would be handed out twice
    val first = agg.serialize(buf(1L, 10L))
    val snapshot = first.clone()
    val second = agg.serialize(buf(2L, 20L))
    assert(first.sameElements(snapshot))
    assert(!second.sameElements(snapshot))
    val back = agg.deserialize(first)
    assert(back.ord == 1L && back.value == 10L)
  }
}
