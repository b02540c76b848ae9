package graft.api

/** The event-time window a monitor aggregates over — the reference's
  * `StreamingWindowType` (logical_plan/streaming_window.rs:69-74) as
  * one value, kept apart from the statistic it carries:
  *  - [[WindowShape.Fixed]] — tumbling (`slide` None) or sliding
  *    windows on a fixed grid ([[DataStream.window]]);
  *  - [[WindowShape.Session]] — gap-merged sessions: a session closes
  *    after `gap` of silence ([[DataStream.sessionWindow]]).
  */
sealed trait WindowShape

object WindowShape {
  final case class Fixed(length: String, slide: Option[String] = None)
      extends WindowShape
  final case class Session(gap: String) extends WindowShape
}
