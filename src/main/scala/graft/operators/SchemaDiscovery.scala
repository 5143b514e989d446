package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Schema-constraint discovery over raw imported tables — the
  * dependency-profiling face of the reference's pre-import "analyse"
  * pass (`DbImport.java` analyse mode inspects columns before load;
  * here the same inspection extends to CROSS-column structure):
  * which columns functionally determine which, and which columns are
  * contained in which — i.e. candidate keys and candidate foreign
  * keys, the two facts a loader needs before it can auto-create
  * primary keys or validate referential integrity on a freshly
  * imported pile of parquet.
  *
  * Both audits are declarative two-level hash aggregations, so at
  * 100 TB they run as ordinary shuffles with map-side partials;
  * nothing is quadratic in rows and nothing collects data to the
  * driver. Each candidate reads only its own column(s) — parquet
  * column pruning keeps the scan at two columns per pair regardless
  * of table width.
  */
object SchemaDiscovery {

  /** Functional-dependency audit: for each candidate `det -> dep`
    * pair, does the determinant fix the dependent? Exact counts via
    * one `groupBy(det).agg(countDistinct(dep))` per pair (hash
    * aggregation with partial combine — the scan prunes to the two
    * audited columns), then a bounded second-level aggregate over the
    * group frame. A pair HOLDS when no determinant value maps to more
    * than one distinct dependent value. Rows where the determinant is
    * NULL are excluded (SQL key semantics: NULL determines nothing);
    * NULL dependents count as zero distinct values, so an all-NULL
    * dependent trivially holds.
    *
    * Returns one row per candidate:
    * `(determinant, dependent, n_groups, n_pairs, n_violating_groups,
    * max_dep_per_group, holds)` — `n_pairs - n_groups` is the total
    * violation mass, `max_dep_per_group` the worst fan-out.
    */
  def fdAudit(df: DataFrame, candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "no FD candidates")
    candidates.map { case (det, dep) =>
      df.filter(col(det).isNotNull)
        .groupBy(col(det).as("__det"))
        .agg(countDistinct(col(dep)).as("__nd"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("__nd")).as("n_pairs"),
          count(when(col("__nd") > 1, lit(1))).as("n_violating_groups"),
          max(col("__nd")).as("max_dep_per_group"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_groups"), col("n_pairs"), col("n_violating_groups"),
          col("max_dep_per_group"),
          (col("n_violating_groups") === 0L).as("holds"))
    }.reduce(_ unionAll _)
      .orderBy(col("determinant"), col("dependent"))
  }

  /** One inclusion-dependency candidate: is every distinct non-NULL
    * value of `child(childCol)` present in `parent(parentCol)`?
    */
  final case class IndCandidate(childRel: String, childCol: String,
                                child: DataFrame,
                                parentRel: String, parentCol: String,
                                parent: DataFrame)

  /** Inclusion-dependency (foreign-key-candidate) audit: per
    * candidate, distinct the child column, anti-join the distinct
    * parent column, and report how much of the child domain escapes.
    * Distinct-then-anti-join is the scalable shape: both sides reduce
    * to their value domains BEFORE the join (hash aggregation with
    * partials), and the join itself broadcasts whenever the parent
    * domain is dimension-sized. The containment ratio publishes as
    * exact integer ppm — no float in the result.
    *
    * Returns one row per candidate:
    * `(child_rel, child_col, parent_rel, parent_col, n_child_distinct,
    * n_missing, containment_ppm, contained)`.
    */
  def inclusionAudit(candidates: Seq[IndCandidate]): DataFrame = {
    require(candidates.nonEmpty, "no IND candidates")
    candidates.map { c =>
      val cd = c.child.select(col(c.childCol).as("__v"))
        .filter(col("__v").isNotNull).distinct()
      val pd = c.parent.select(col(c.parentCol).as("__v"))
        .filter(col("__v").isNotNull).distinct()
      cd.join(pd, Seq("__v"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
        .crossJoin(broadcast(cd.agg(count(lit(1)).as("n_child_distinct"))))
        .select(lit(c.childRel).as("child_rel"),
          lit(c.childCol).as("child_col"),
          lit(c.parentRel).as("parent_rel"),
          lit(c.parentCol).as("parent_col"),
          col("n_child_distinct"), col("n_missing"),
          expr("(n_child_distinct - n_missing) * 1000000L DIV n_child_distinct")
            .as("containment_ppm"),
          (col("n_missing") === 0L).as("contained"))
    }.reduce(_ unionAll _)
      .orderBy(col("child_rel"), col("child_col"), col("parent_rel"),
        col("parent_col"))
  }
}
