package graft.operators

import scala.annotation.switch
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{PartitioningPreservingUnaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.core.Act

/** A deterministic per-game function: one game's actions, sorted on
  * `order`, to its output actions with a dense `action_id` from 0. */
trait GameKernel extends Serializable {
  /** The [[Act]] fields read from the input; `game_id` is always read. */
  def reads: Seq[Int]
  /** The input order within a game, as [[Act]] fields, ascending. */
  def order: Seq[Int]
  /** Output rows carry the `scores` and `concedes` labels. */
  def labels: Boolean
  def run(game: Array[Act]): Array[Act]
}

object GameKernel {
  /** One insertion stage: each action, then `extra(action, successor)` right
    * after it when not null (the successor is null for the last action);
    * action ids are renumbered densely. This is the order the window forms'
    * `row_number` over (period_id, action_id + 0.1) gives. */
  def insertAfter(game: Array[Act])(extra: (Act, Act) => Act): Array[Act] = {
    val out = new ArrayBuffer[Act](game.length + game.length / 4)
    var i = 0
    while (i < game.length) {
      out += game(i)
      val e = extra(game(i), if (i + 1 < game.length) game(i + 1) else null)
      if (e != null) out += e
      i += 1
    }
    val res = out.toArray
    i = 0
    while (i < res.length) { res(i).actionId = i; res(i).nulls &= ~(1 << Act.ActionId); i += 1 }
    res
  }
}

/** The per-game ordered scan as a Catalyst node. `output.head` is the
  * child's `game_id` (same expression id) unless [[newInstance]] renamed it:
  * the analyzer renews a relation that appears twice in a join, and only a
  * [[MultiInstanceRelation]] can be renewed by a node it does not know. The
  * other output columns are the [[Act]] fields, then the labels if the
  * kernel emits them. */
final case class PerGameScan(kernel: GameKernel, input: Seq[Attribute], output: Seq[Attribute],
                             child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = outputSet -- inputSet
  override def newInstance(): PerGameScan = copy(output = output.map(_.newInstance()))
  override protected def withNewChildInternal(c: LogicalPlan): PerGameScan = copy(child = c)
}

/** Runs the kernel over each game of a `game_id`-clustered input sorted on
  * the kernel's order: reads `InternalRow`s into [[Act]]s and writes the
  * output with an `UnsafeRowWriter`, so no encoder or generated class is
  * involved. The output keeps the child's partitioning, and is sorted on
  * (game_id, action_id). */
final case class PerGameScanExec(kernel: GameKernel, input: Seq[Attribute], output: Seq[Attribute],
                                 child: SparkPlan) extends PartitioningPreservingUnaryExecNode {
  private def gameId = input.head

  override def producedAttributes: AttributeSet = outputSet -- inputSet

  override protected def outputExpressions: Seq[NamedExpression] =
    (if (output.head.exprId == gameId.exprId) gameId
     else Alias(gameId, output.head.name)(output.head.exprId)) +: output.tail

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(gameId)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((gameId +: kernel.order.map(f => input(1 + kernel.reads.indexOf(f)))).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(output.head, Ascending), SortOrder(output(1 + Act.ActionId), Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val ordinals = input.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val (k, reads, rows, width) = (kernel, kernel.reads.toArray, longMetric("numOutputRows"), output.length)
    child.execute().mapPartitions { in =>
      // (game_id, action) pairs: the input row object is reused, the Act is not
      val acts = in.map { r =>
        val a = Act.blank
        reads.indices.foreach(i => PerGameScanExec.read(r, ordinals(i + 1), reads(i), a))
        (if (r.isNullAt(ordinals(0))) None else Some(r.getLong(ordinals(0))), a)
      }.buffered
      val w = new UnsafeRowWriter(width)
      Iterator.continually(acts).takeWhile(_.hasNext).flatMap { _ =>
        val game = acts.head._1
        val buf = ArrayBuffer[Act]()
        while (acts.hasNext && acts.head._1 == game) buf += acts.next()._2
        k.run(buf.toArray).iterator.map { a =>
          w.reset()
          w.zeroOutNullBytes()
          game.fold(w.setNullAt(0))(w.write(0, _))
          Act.Fields.indices.foreach(f => PerGameScanExec.write(a, f, w, f + 1))
          if (k.labels) { w.write(width - 2, a.scores); w.write(width - 1, a.concedes) }
          rows += 1
          w.getRow
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): PerGameScanExec = copy(child = c)
}

object PerGameScanExec {
  import Act._

  private def read(row: InternalRow, ordinal: Int, f: Int, a: Act): Unit =
    if (row.isNullAt(ordinal)) a.nulls |= 1 << f
    else (f: @switch) match {
      case ActionId => a.actionId = row.getLong(ordinal)
      case PeriodId => a.periodId = row.getInt(ordinal)
      case Time => a.time = row.getDouble(ordinal)
      case TeamId => a.teamId = row.getLong(ordinal)
      case PlayerId => a.playerId = row.getLong(ordinal)
      case StartX => a.startX = row.getDouble(ordinal)
      case StartY => a.startY = row.getDouble(ordinal)
      case EndX => a.endX = row.getDouble(ordinal)
      case EndY => a.endY = row.getDouble(ordinal)
      case TypeId => a.typeId = row.getInt(ordinal)
      case ResultId => a.resultId = row.getInt(ordinal)
      case BodypartId => a.bodypartId = row.getInt(ordinal)
      case SeqNo => a.seq = row.getLong(ordinal)
    }

  private def write(a: Act, f: Int, w: UnsafeRowWriter, ordinal: Int): Unit =
    if (!a.has(1 << f)) w.setNullAt(ordinal)
    else (f: @switch) match {
      case ActionId => w.write(ordinal, a.actionId)
      case PeriodId => w.write(ordinal, a.periodId)
      case Time => w.write(ordinal, a.time)
      case TeamId => w.write(ordinal, a.teamId)
      case PlayerId => w.write(ordinal, a.playerId)
      case StartX => w.write(ordinal, a.startX)
      case StartY => w.write(ordinal, a.startY)
      case EndX => w.write(ordinal, a.endX)
      case EndY => w.write(ordinal, a.endY)
      case TypeId => w.write(ordinal, a.typeId)
      case ResultId => w.write(ordinal, a.resultId)
      case BodypartId => w.write(ordinal, a.bodypartId)
      case SeqNo => w.write(ordinal, a.seq)
    }
}

/** Plans [[PerGameScan]]; registered on a session by [[PerGameScan.apply]]
  * (the `extraStrategies` injection pattern). */
object PerGameScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PerGameScan => PerGameScanExec(p.kernel, p.input, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `spark` once. */
  def setup(spark: SparkSession): Unit = {
    val methods = spark.asInstanceOf[classic.SparkSession].experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(this))
        methods.extraStrategies = (this: SparkStrategy) +: methods.extraStrategies
    }
  }
}

object PerGameScan {
  /** `kernel` over each game of `actions`: one exchange on `game_id` (none
    * when `actions` is already clustered on it) and one sort, then the
    * kernel. Input columns are cast to the [[Act]] types where they differ.
    * Output: `game_id`, the [[Act]] fields in order, then `scores` and
    * `concedes` if the kernel labels; a column is nullable when its input
    * column is. */
  def apply(actions: DataFrame, kernel: GameKernel): DataFrame = {
    PerGameScanStrategy.setup(actions.sparkSession)
    val types = actions.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = ("game_id" -> (LongType: DataType)) +: kernel.reads.map(Act.Fields)
    val typed = Shim.plan(actions.select(cols.map { case (n, t) =>
      if (types.get(n).contains(t)) col(n) else col(n).cast(t).as(n)
    }: _*))
    val input = typed.output
    val nullable = input.map(a => a.name -> a.nullable).toMap
    val produced = Act.Fields.map { case (n, t) =>
      AttributeReference(n, t, n != "action_id" && nullable.getOrElse(n, false))()
    } ++ (if (kernel.labels)
      Seq(AttributeReference("scores", BooleanType, nullable = false)(),
        AttributeReference("concedes", BooleanType, nullable = false)())
    else Nil)
    Shim.ofRows(actions, PerGameScan(kernel, input, input.head +: produced, typed))
  }
}
