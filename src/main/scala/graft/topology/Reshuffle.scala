package graft.topology

/** The job-level `[reshuffle]` TOML section — the at-rest EPOCH SHUFFLE
  * ([[graft.sources.PackedCorpus.reshuffle]]) on the config surface,
  * completing the config-only shard lifecycle: export (`PackedShards`),
  * audit/filter/re-export (`PackedCorpus` input → `PackedShards`), RTBF
  * surgery, and now the per-epoch operation a trainer runs most often.
  * A group-preserving permutation is not a row filter, so it cannot ride
  * the record model's input→filters→output shape — like `[tokenizer]`
  * it is its OWN job section, run eagerly at compile:
  *
  * {{{
  * [reshuffle]
  * InDir  = "/corpora/run1/shards"
  * OutDir = "/corpora/run1/epoch2"
  * Shards = 64
  * Seed   = "epoch2"
  * }}}
  *
  * A reshuffle-only TOML needs no `[fields]`/`[input]`/`[output]` —
  * [[Topology.configFromToml]] synthesizes an inert topology around the
  * section (one literal record into Nop), so the file above is a
  * complete, runnable job.
  */
object Reshuffle {

  val keys: Seq[ConfigKey] = Seq(
    ConfigKey("InDir", "packed-corpus shard directory to shuffle",
      required = true),
    ConfigKey("OutDir", "output directory for the shuffled epoch (must " +
      "differ from InDir - immutable corpora are versioned, never " +
      "patched in place)", required = true),
    ConfigKey("Shards", "output shard-file count", required = true),
    ConfigKey("Seed", "permutation seed - same seed, same epoch layout",
      default = Some("epoch")),
    ConfigKey("Dtype", "token width of the output (int32 | uint16); " +
      "empty = keep the input corpus's width", default = Some("")))

  /** Run the section (eager, like [[Tokenize.train]] — the shuffle IS
    * the job; a reshuffle topology's output is usually Nop).
    */
  def run(ctx: TopologyCtx, cfg: ComponentConfig): Unit = {
    graft.sources.PackedCorpus.reshuffle(ctx.spark,
      cfg.str("InDir"), cfg.str("OutDir"),
      numShards = cfg.int("Shards").toInt,
      seed = cfg.str("Seed"),
      dtype = cfg.str("Dtype"))
  }
}
