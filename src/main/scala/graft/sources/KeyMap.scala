package graft.sources

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.types._

/** The primary-key map of one table version: every key of a single-column
  * PRIMARY KEY, sorted, with the partition tuple (values in
  * `PartitionSpec.cols` order, empty when unpartitioned) of the row that
  * holds it. The reference resolves `WHERE pk = …` to document ids and
  * routes by them without a scan (`DocKeys`, the `Get` plan); here the map
  * answers the DML key questions on the driver: is a key taken, how many
  * rows a key predicate selects, and which partitions hold them.
  *
  * A map belongs to one immutable version, so it never goes stale. It is
  * memoized under `pkmap#<table path>#v<n>`: the directory surgery that
  * invalidates a table's reads (DROP, RENAME, SWAP, vacuum) drops it too.
  * A version gets its map from the commit that wrote it (the previous map
  * plus the statement's own delta, stored only after the manifest rename)
  * or from one lazy scan. Only the newest stored map of a table is kept. */
final class KeyMap private (private val m: TreeMap[Any, Seq[Any]]) {
  def size: Int = m.size
  def get(k: Any): Option[Seq[Any]] = m.get(k)
  def contains(k: Any): Boolean = m.contains(k)
  def ++(adds: Iterable[(Any, Seq[Any])]): KeyMap = new KeyMap(m ++ adds)
  def ++(o: KeyMap): KeyMap = new KeyMap(m ++ o.m)
  def --(keys: Iterable[Any]): KeyMap = new KeyMap(m -- keys)

  /** The (key, partition tuple) entries a key selection matches. */
  def select(s: KeyMap.Selection): Seq[(Any, Seq[Any])] = {
    val ord = m.ordering
    def above(k: Any) = s.lo.forall { case (v, inc) =>
      val c = ord.compare(k, v); c > 0 || (inc && c == 0) }
    def below(k: Any) = s.hi.forall { case (v, inc) =>
      val c = ord.compare(k, v); c < 0 || (inc && c == 0) }
    s.in match {
      case Some(ks) =>
        ks.toSeq.flatMap(k => m.get(k).map(k -> _)).filter(e => above(e._1) && below(e._1))
      case None =>
        val from = s.lo.map(_._1).maxOption(ord).fold(m.iterator)(m.iteratorFrom)
        from.dropWhile(e => !above(e._1)).takeWhile(e => below(e._1)).toSeq
    }
  }
}

object KeyMap {

  /** The most rows a table may hold for its versions to get a map. Past
    * it the DML statements take their scanning paths, so the driver never
    * holds more than this many entries per table. A map takes about 150
    * bytes of driver heap per key (`graft.KeyMapCost` in the tests), so
    * about 10 MB at the cap; the cap bounds heap, since the map saves
    * time at every size measured. */
  val MaxKeys: Int = 1 << 16

  /** Keys as literal predicates select them: the key in `in` (when set),
    * at or above every lower bound and at or below every upper bound, each
    * bound a (value, inclusive) pair. */
  final case class Selection(in: Option[Set[Any]], lo: Set[(Any, Boolean)],
                             hi: Set[(Any, Boolean)]) {
    def and(o: Selection): Selection =
      Selection((in ++ o.in).reduceOption(_ intersect _), lo ++ o.lo, hi ++ o.hi)
  }

  /** Key order by value, for the key types a map holds: integers, and
    * binary-collated strings in code-point order (Spark's UTF-8 byte
    * order). None for every other type. */
  def ordering(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue))
    case st: StringType if st.collationId == StringType.collationId =>
      Some(Ordering.fromLessThan[Any]((a, b) =>
        codePointCompare(a.asInstanceOf[String], b.asInstanceOf[String]) < 0))
    case _ => None
  }

  private def codePointCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val x = a.codePointAt(i); val y = b.codePointAt(j)
      if (x != y) return Integer.compare(x, y)
      i += Character.charCount(x); j += Character.charCount(y)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** The key column when `pk` is one column of a type a map can hold. */
  def keyColumn(pk: Seq[String], schema: StructType): Option[String] =
    pk match {
      case Seq(k) if schema.fieldNames.contains(k) && ordering(schema(k).dataType).isDefined =>
        Some(k)
      case _ => None
    }

  /** The rows of `df` as its optimized plan's statistics put them,
    * without running it: the row count when the plan knows it, else its
    * size in bytes over the estimated width of its rows. */
  def rowEstimate(df: org.apache.spark.sql.DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    plan.stats.rowCount.getOrElse(
      plan.stats.sizeInBytes / (8 + plan.output.map(_.dataType.defaultSize).sum))
  }

  def empty(dt: DataType): KeyMap = new KeyMap(TreeMap.empty(ordering(dt).get))

  private def memoKey(path: String, version: Int) = s"pkmap#$path#v$version"

  /** Set once a version of the table at `path` counts more than
    * [[MaxKeys]] rows; dropped with the path's maps. */
  private def overKey(path: String) = s"pkmap#$path#over"

  /** The map of `version`: the stored one, else one scan of (`key` ++
    * `parts`), a [[Dml.tally]]. Before the scan, the version's row count
    * from its Parquet footers must be within [[MaxKeys]]. None over the
    * cap, or when the version holds a NULL or repeated key. A table found
    * over the cap has no map, and reads no footers for one, until DROP,
    * RENAME, SWAP or vacuum drops its memo entries. */
  def of(spark: SparkSession, path: String, version: Int, key: String,
         parts: Seq[String]): Option[KeyMap] =
    if (graft.Memo.peek[Boolean](spark, overKey(path)).contains(true)) None
    else graft.Memo(spark, memoKey(path, version)) {
      if (VersionedTable.rowCount(spark, path, version) > MaxKeys) {
        graft.Memo(spark, overKey(path))(true)
        None
      } else {
        val df = VersionedTable.readVersion(spark, path, version)
        fromTally(Dml.tally(df, key +: parts), df.schema(key).dataType)
      }
    }

  /** The stored map of `version`, if any: never scans. */
  def stored(spark: SparkSession, path: String, version: Int): Option[KeyMap] =
    graft.Memo.peek[Option[KeyMap]](spark, memoKey(path, version)).flatten

  /** Store `m` as the map of the committed `version`, in place of every
    * map the table's path holds; past [[MaxKeys]] entries, mark the table
    * over the cap instead. Call only after the manifest rename. */
  def store(spark: SparkSession, path: String, version: Int, m: KeyMap): Unit = {
    graft.Memo.invalidate(_.startsWith(s"pkmap#$path#"))
    if (m.size <= MaxKeys) graft.Memo(spark, memoKey(path, version))(Some(m))
    else graft.Memo(spark, overKey(path))(true)
  }

  /** A map from a tally over (key ++ partition columns); None when a key
    * is NULL or held by more than one row. */
  def fromTally(t: Map[Seq[Any], Long], dt: DataType): Option[KeyMap] =
    if (t.exists { case (k, n) => n != 1 || k.head == null }) None
    else {
      val m = TreeMap.from(t.keys.map(k => k.head -> k.tail))(ordering(dt).get)
      if (m.size == t.size) Some(new KeyMap(m)) else None
    }

  /** The keys `plan` selects, when it is a filtered table read whose every
    * scan sits under one Filter that constrains only the column `key`,
    * with literals: `=`, `IN`, `<`, `<=`, `>`, `>=` and `IS NOT NULL`
    * conjuncts, the same on every scan. Read from the optimized plan, so
    * casts of the literals are folded and BETWEEN is two bounds. */
  def selection(plan: LogicalPlan, key: String): Option[Selection] = {
    val leaves = plan.collectLeaves()
    val filters = plan.collect { case f: Filter => f }
    val conds = filters.collect { case Filter(c, _: LeafNode) => c }
    if (leaves.isEmpty || conds.length != leaves.length || filters.length != conds.length)
      return None
    val sels = conds.map(c => conjuncts(c).map(term(_, key))
      .reduce((a, b) => for (x <- a; y <- b) yield x.and(y)))
    sels.distinct match {
      case Seq(Some(s)) if s != any => Some(s)
      case _ => None
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case o         => Seq(o)
  }

  private val any = Selection(None, Set.empty, Set.empty)

  private def term(e: Expression, key: String): Option[Selection] = {
    def isKey(x: Expression) = x match {
      case a: AttributeReference => a.name.equalsIgnoreCase(key)
      case _                     => false
    }
    // literal values of the key's type, as the map holds them
    def values(a: Expression, vs: Iterable[Any]): Set[Any] =
      vs.filter(_ != null).map(CatalystTypeConverters.convertToScala(_, a.dataType)).toSet
    def bound(a: Expression, l: Literal)(sel: Any => Selection) =
      if (l.value == null || l.dataType != a.dataType) None
      else values(a, Seq(l.value)).headOption.map(sel)
    def point(v: Any) = any.copy(in = Some(Set(v)))
    def from(inc: Boolean)(v: Any) = any.copy(lo = Set(v -> inc))
    def upTo(inc: Boolean)(v: Any) = any.copy(hi = Set(v -> inc))
    e match {
      case IsNotNull(a) if isKey(a)                      => Some(any)
      case EqualTo(a, l: Literal) if isKey(a)            => bound(a, l)(point)
      case GreaterThan(a, l: Literal) if isKey(a)        => bound(a, l)(from(inc = false))
      case GreaterThanOrEqual(a, l: Literal) if isKey(a) => bound(a, l)(from(inc = true))
      case LessThan(a, l: Literal) if isKey(a)           => bound(a, l)(upTo(inc = false))
      case LessThanOrEqual(a, l: Literal) if isKey(a)    => bound(a, l)(upTo(inc = true))
      // literal on the left: the same comparison turned round
      case EqualTo(l: Literal, a) if isKey(a)            => term(EqualTo(a, l), key)
      case GreaterThan(l: Literal, a) if isKey(a)        => term(LessThan(a, l), key)
      case GreaterThanOrEqual(l: Literal, a) if isKey(a) => term(LessThanOrEqual(a, l), key)
      case LessThan(l: Literal, a) if isKey(a)           => term(GreaterThan(a, l), key)
      case LessThanOrEqual(l: Literal, a) if isKey(a)    => term(GreaterThanOrEqual(a, l), key)
      case In(a, list) if isKey(a) && list.forall {
            case l: Literal => l.dataType == a.dataType
            case _          => false
          } =>
        Some(any.copy(in = Some(values(a, list.map(_.asInstanceOf[Literal].value)))))
      case InSet(a, hset) if isKey(a) => Some(any.copy(in = Some(values(a, hset))))
      case _ => None
    }
  }
}
