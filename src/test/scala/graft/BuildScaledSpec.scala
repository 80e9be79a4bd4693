package graft

import org.apache.spark.sql.functions._

/** Guards BuildScaled's replica construction — if the replicas are
  * malformed the scale evidence measures nothing (key collisions
  * collapse groups; aliased replicas inflate LSH pair output ∝k²).
  */
class BuildScaledSpec extends SparkSpec {

  private def build(axis: String): String = {
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft-scalespec-$axis-${ProcessHandle.current().pid()}")
    BuildScaled.buildScaled(spark, sf, out.getAbsolutePath, 2, axis)
    out.getAbsolutePath
  }

  private def rm(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(go)
      f.delete(): Unit
    }
    go(new java.io.File(p))
  }

  test("entities axis: rows and key cardinality both double, no collisions") {
    val dir = build("entities")
    try {
      val li0 = spark.read.parquet(s"$sf/lineitem.parquet")
      val li2 = spark.read.parquet(s"$dir/lineitem.parquet")
      assert(li2.count() == 2 * li0.count())
      // entity keys must scale with the data: distinct parts double
      assert(li2.select("l_partkey").distinct.count() ==
        2 * li0.select("l_partkey").distinct.count())
      // and the join keys stay collision-free across replicas
      val o2 = spark.read.parquet(s"$dir/orders.parquet")
      assert(o2.select("o_orderkey").distinct.count() == o2.count())
      // fixed dims are not replicated
      assert(spark.read.parquet(s"$dir/nation.parquet").count() ==
        spark.read.parquet(s"$sf/nation.parquet").count())
    } finally rm(dir)
  }

  test("density axis: rows double, entity cardinality fixed, ts interleaved") {
    val dir = build("density")
    try {
      val li0 = spark.read.parquet(s"$sf/lineitem.parquet")
      val li2 = spark.read.parquet(s"$dir/lineitem.parquet")
      assert(li2.count() == 2 * li0.count())
      // the axis's defining property: same entities, more rows each
      assert(li2.select("l_partkey").distinct.count() ==
        li0.select("l_partkey").distinct.count())
      assert(li2.select("l_orderkey").distinct.count() == 2 *
        li0.select("l_orderkey").distinct.count())
      // entity dims stay ×1 on this axis
      assert(spark.read.parquet(s"$dir/customer.parquet").count() ==
        spark.read.parquet(s"$sf/customer.parquet").count())
      // replica rows are jittered, not stacked on identical instants
      assert(li2.select("l_shipdate").distinct.count() >
        li0.select("l_shipdate").distinct.count())
    } finally rm(dir)
  }

  test("documents salt keeps replicas from aliasing as near-dups") {
    val dir = build("entities")
    try {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val d0 = spark.read.parquet(s"$sf/documents.parquet")
      assert(d.count() == 2 * d0.count())
      // replica 1 of a doc must share at most a minority of its word
      // 5-grams with replica 0 (salting every 3rd word kills every
      // shingle that spans a salted position)
      val sh = (c: String) => {
        val words = split(col(c), " +")
        transform(sequence(lit(0), greatest(size(words) - 5, lit(0))),
          i => concat_ws(" ", slice(words, i + 1, lit(5))))
      }
      val base = d.filter(col("doc_id") < 1000000L)
        .select(col("doc_id"), explode(sh("text")).as("g")).distinct
      val rep = d.filter(col("doc_id") >= 100000000L)
        .select((col("doc_id") - 100000000L).as("doc_id"),
          explode(sh("text")).as("g")).distinct
      val overlap = base.join(rep, Seq("doc_id", "g")).count().toDouble
      assert(overlap / base.count() < 0.2,
        s"replicas alias: ${overlap / base.count()} shingle overlap")
    } finally rm(dir)
  }

  test("embedding sign-salt: intra-replica cosines exact, cross-replica " +
      "scrambled (the r16 sweep's q_dedup_embedding aliasing fix)") {
    val dir = build("entities")
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val e0 = spark.read.parquet(s"$sf/embeddings.parquet")
      assert(e.count() == 2 * e0.count())
      def cos = (a: String, b: String) =>
        aggregate(zip_with(col(a), col(b), (x, y) => (x * y).cast("double")),
          lit(0.0), (acc, v) => acc + v) /
          (sqrt(aggregate(transform(col(a), x => (x * x).cast("double")),
            lit(0.0), (acc, v) => acc + v)) *
           sqrt(aggregate(transform(col(b), x => (x * x).cast("double")),
            lit(0.0), (acc, v) => acc + v)))
      // each base vector vs its own replica-1 copy: the diagonal ±1
      // transform must kill the identity (cosine ≪ 1) — plain
      // replication had cosine ≡ 1.0 and inflated near-dup pair
      // output ∝k²
      val paired = e.filter(col("vec_id") < 100000000L).as("b")
        .join(e.filter(col("vec_id") >= 100000000L)
          .withColumn("vec_id", col("vec_id") - 100000000L).as("r"),
          Seq("vec_id"))
        .select(cos("b.embedding", "r.embedding").as("c"))
      val worst = paired.agg(max(abs(col("c")))).head().getDouble(0)
      assert(worst < 0.8, s"replica copy still cosine-aliases: $worst")
      // and the transform is ORTHOGONAL: any two vectors WITHIN
      // replica 1 keep exactly the cosine their replica-0 originals
      // have (near-dup structure replicates with the data)
      val base2 = e0.limit(50).as("x").join(e0.limit(50).as("y"))
        .filter(col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"),
          cos("x.embedding", "y.embedding").as("c0"))
      val rep1 = e.filter(col("vec_id") >= 100000000L)
      val rep2 = rep1.as("x").join(rep1.as("y"))
        .filter(col("x.vec_id") < col("y.vec_id"))
        .select((col("x.vec_id") - 100000000L).as("i"),
          (col("y.vec_id") - 100000000L).as("j"),
          cos("x.embedding", "y.embedding").as("c1"))
      val drift = base2.join(rep2, Seq("i", "j"))
        .agg(max(abs(col("c0") - col("c1")))).head().getDouble(0)
      assert(drift < 1e-6,
        s"sign transform is not orthogonal — intra-replica cosine drifted $drift")
    } finally rm(dir)
  }
}
