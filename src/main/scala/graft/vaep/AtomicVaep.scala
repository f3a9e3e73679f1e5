package graft.vaep

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Spadl
import graft.vaep.GameStates.st

/** Atomic-VAEP feature transformers (reference
  * `socceraction/atomic/vaep/features.py`) over the atomic action frame
  * (x, y, dx, dy; results reified as extra rows). Movement features are
  * polar, with the reference's dy==0 ⇒ angle 0 repair and a raw-value
  * passthrough for zero-length movement (`features.py:199-235`). Game
  * states, orientation, running score, labels and the value formula are the
  * shared tail, called with [[ActionKind.Atomic]].
  */
object AtomicVaep {

  /** DELIBERATE DEVIATION from the reference: socceraction's atomic
    * actiontypes list contains "interception" twice (ids 10 and 24,
    * `atomic/spadl/config.py:26-37`), and its dict-based one-hot lets the
    * id-24 entry overwrite id 10 — so upstream's `actiontype_interception`
    * column tests `type_id == 24` and is effectively always False (the
    * converter only emits id 10). Here the duplicate is dropped and the
    * column fires on REAL interceptions (`type_id == 10`). Strict-parity
    * consumers should note atomic interception one-hots differ from
    * upstream's always-False column. */
  def actiontypeOnehot(i: Int): Seq[Column] =
    Spadl.atomicActiontypes.zipWithIndex
      .filterNot(_._1 == "interception_atomic_dup") // never produced (base id 10 reused)
      .map { case (n, id) => (col(st("type_id", i)) === id).as(s"actiontype_${n}_a$i") }

  def location(i: Int): Seq[Column] =
    Seq(col(st("x", i)).as(s"x_a$i"), col(st("y", i)).as(s"y_a$i"))

  def polar(i: Int): Seq[Column] =
    Features.polar(col(st("x", i)), col(st("y", i)), "", i)

  /** mov_d + mov_angle with the reference's dy==0 ⇒ 0 repair. */
  def movementPolar(i: Int): Seq[Column] = {
    val dx = col(st("dx", i))
    val dy = col(st("dy", i))
    Seq(
      sqrt(dx * dx + dy * dy).as(s"mov_d_a$i"),
      when(dy === 0.0, 0.0).otherwise(atan2(dy, dx)).as(s"mov_angle_a$i"))
  }

  /** Unit direction vector; zero-length movement keeps the raw components. */
  def direction(i: Int): Seq[Column] = {
    val dx = col(st("dx", i))
    val dy = col(st("dy", i))
    val totald = sqrt(dx * dx + dy * dy)
    Seq(
      when(totald > 0.0, dx / totald).otherwise(dx).as(s"dx_a$i"),
      when(totald > 0.0, dy / totald).otherwise(dy).as(s"dy_a$i"))
  }
}
