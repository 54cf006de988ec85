package kgbench

/** One benchmark workload.
  *
  * @param pages         pages generated for the seed
  * @param fuzzyKbLabels labels of the seeded fuzzy KB; 0 = `Corpus.kb`
  * @param priorBuckets  buckets [0, priorBuckets) committed by a prior
  *                      build before the timed one; 0 = cold build
  */
final case class Workload(name: String, pages: Long, fuzzyKbLabels: Long, priorBuckets: Int)

object Workload {
  /** Sizes are small because each timed build is a cold JVM's first
    * build, whose ~30 s is mostly JIT and Spark's fixed per-build floor
    * (64 bucket directories, 128 shuffle partitions), not pages: one
    * run must stay near a minute. README.md has the measurements. */
  val all: Seq[Workload] = Seq(
    Workload("build-web", 10000L, 0L, 0),
    Workload("resume-delta", 10000L, 0L, 48),
    Workload("link-fuzzy", 4000L, 150000L, 0))

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
