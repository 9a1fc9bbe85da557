package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.TableLoader._

/** Global sort / top-k and set operations (SURVEY.md §2.6).
  *
  * `orderBy(...).limit(k)` plans as `TakeOrderedAndProjectExec`: each
  * task keeps a k-row heap and the driver merges — no global sort ever
  * materializes, which is what makes top-k viable on 100 TB.
  */
object SortSetQueries {

  /** `df` totally ordered by `keys` (ascending), at the session's full
    * shuffle width: the range exchange `orderBy` plans, but at a width
    * given by the caller, which AQE does not coalesce, then a sort
    * inside each partition. Every row of partition i precedes every
    * row of partition i+1, so the order is as total as `orderBy`'s.
    *
    * For a narrow sort under a heavy projection (the projection goes
    * above the sort, or the range sampler evaluates it twice): under
    * `orderBy` AQE coalesces the sort's small output to one partition,
    * so the projection above it runs in one task. */
  def wideSort(df: DataFrame, keys: Column*): DataFrame =
    df.repartitionByRange(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        keys: _*)
      .sortWithinPartitions(keys: _*)

  /** Multi-key global sort + LIMIT (Access TOP N). */
  val qSortLimit: QDef = QDef(
    "q_sort_limit",
    """SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    orders(s, d)
      .select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Bag union of two tagged projections (positional `union`; the tag
    * keeps total order well-defined even with overlapping branches). */
  val qUnionAll: QDef = QDef(
    "q_union_all",
    """SELECT * FROM (
      |  SELECT 'urgent' AS src, o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |  UNION ALL
      |  SELECT 'big' AS src, o_orderkey FROM orders
      |  WHERE o_totalprice > 400000
      |) ORDER BY src, o_orderkey""".stripMargin) { (s, d) =>
    val o = orders(s, d)
    val a = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(lit("urgent").as("src"), col("o_orderkey"))
    val b = o.filter(col("o_totalprice") > 400000)
      .select(lit("big").as("src"), col("o_orderkey"))
    a.union(b).orderBy(col("src"), col("o_orderkey"))
  }

  /** Set union (distinct): nation keys present among customers or
    * suppliers. */
  val qUnionDistinct: QDef = QDef(
    "q_union_distinct",
    """SELECT c_nationkey AS nk FROM customer
      |UNION
      |SELECT s_nationkey FROM supplier
      |ORDER BY nk""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_nationkey").as("nk"))
      .union(supplier(s, d).select(col("s_nationkey")))
      .distinct()
      .orderBy(col("nk"))
  }

  /** INTERSECT (distinct semantics): customers appearing in both
    * segments' big-order sets. */
  val qIntersect: QDef = QDef(
    "q_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val o = orders(s, d)
    o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      .intersect(
        o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** EXCEPT (distinct semantics). */
  val qExcept: QDef = QDef(
    "q_except",
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .except(
        orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")))
      .orderBy(col("c_custkey"))
  }

  /** INTERSECT ALL (bag semantics — duplicate rows survive with
    * min(countA, countB) multiplicity; the PostgreSQL-side surface a
    * migrated workload can use). Keyed on o_custkey so customers with
    * several orders in BOTH priority classes yield duplicate rows. */
  val qIntersectAll: QDef = QDef(
    "q_intersect_all",
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val o = orders(s, d)
    o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      .intersectAll(
        o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** EXCEPT ALL (bag semantics — each match removes ONE occurrence). */
  val qExceptAll: QDef = QDef(
    "q_except_all",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val o = orders(s, d)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .exceptAll(
        o.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** Schema-evolution union: an old snapshot written before
    * `o_orderpriority` existed, unioned BY NAME with current data —
    * `unionByName(allowMissingColumns = true)` null-fills the missing
    * column (positional `union` would silently mis-align). The lake
    * reality this models: historical partitions never get rewritten
    * when a column is added. */
  val qUnionByNameEvolved: QDef = QDef(
    "q_union_by_name_evolved",
    """SELECT * FROM (
      |  SELECT o_orderkey, 'old' AS snapshot, o_orderstatus,
      |    CAST(NULL AS VARCHAR) AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'new', o_orderstatus, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 1
      |) ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val o = orders(s, d)
    val oldSnap = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit("old").as("snapshot"),
        col("o_orderstatus")) // pre-evolution schema: no priority
    val newSnap = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), lit("new").as("snapshot"),
        col("o_orderstatus"), col("o_orderpriority"))
    oldSnap.unionByName(newSnap, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }

  val defs: Seq[QDef] = Seq(
    qSortLimit, qUnionAll, qUnionDistinct, qIntersect, qExcept,
    qIntersectAll, qExceptAll, qUnionByNameEvolved)
}
