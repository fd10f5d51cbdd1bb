package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Neighbor-list assembly shared by the graph-search paths that
  * rebuild an adjacency array in SQL (the appended lists in
  * `GraphSearch.appendedLists`, the reverse-edge patch in
  * `GraphSearch.appendToGraphStack`): sort by (similarity desc, id
  * asc) — the order of NND's top-k fold, which builds every NND list
  * itself — so list ordering is bit-identical across the build and
  * append paths BY CONSTRUCTION rather than by kept-in-sync copies of
  * the sort_array/struct idiom. */
object Neighbors {

  /** Group `rows` by `id` into `(id, neighbors ARRAY<STRUCT<id,
    * similarity>>)` sorted (similarity desc, id asc). */
  def assemble(rows: DataFrame, id: Column, nbrId: Column,
      sim: Column): DataFrame =
    rows.groupBy(id.as("id"))
      .agg(sort_array(collect_list(struct(
        (-sim).as("neg"), nbrId.as("id"), sim.as("similarity")))).as("srt"))
      .select(col("id"),
        expr("transform(srt, x -> struct(x.id as id, x.similarity as similarity))")
          .as("neighbors"))
}
