package graft.model

/**
 * Dispatch outcome codes — the 8-way routing decision at the heart of the
 * engine's data plane.
 *
 * Semantics mirror uForwarder's `DispatcherResponse.Code`
 * (reference: uforwarder/src/main/java/com/uber/data/kafka/consumerproxy/worker/dispatcher/DispatcherResponse.java:41-50).
 */
sealed abstract class DispatchCode(val name: String, val ordinal: Int) {
  override def toString: String = name
}

object DispatchCode {
  case object Dlq     extends DispatchCode("DLQ", 0)
  case object Retry   extends DispatchCode("RETRY", 1)
  case object Resq    extends DispatchCode("RESQ", 2)
  case object Backoff extends DispatchCode("BACKOFF", 3)
  case object Dropped extends DispatchCode("DROPPED", 4)
  case object Invalid extends DispatchCode("INVALID", 5)
  case object Skip    extends DispatchCode("SKIP", 6)
  case object Commit  extends DispatchCode("COMMIT", 7)

  val all: Seq[DispatchCode] =
    Seq(Dlq, Retry, Resq, Backoff, Dropped, Invalid, Skip, Commit)

  def fromName(name: String): DispatchCode =
    all.find(_.name == name).getOrElse(Invalid)
}

/**
 * gRPC status code names (the public gRPC status vocabulary). We model them
 * as strings so the mapping is usable both from plain Scala and from a
 * Catalyst column expression without an io.grpc dependency.
 */
object GrpcStatus {
  val OK                  = "OK"
  val CANCELLED           = "CANCELLED"
  val UNKNOWN             = "UNKNOWN"
  val INVALID_ARGUMENT    = "INVALID_ARGUMENT"
  val DEADLINE_EXCEEDED   = "DEADLINE_EXCEEDED"
  val NOT_FOUND           = "NOT_FOUND"
  val ALREADY_EXISTS      = "ALREADY_EXISTS"
  val PERMISSION_DENIED   = "PERMISSION_DENIED"
  val RESOURCE_EXHAUSTED  = "RESOURCE_EXHAUSTED"
  val FAILED_PRECONDITION = "FAILED_PRECONDITION"
  val ABORTED             = "ABORTED"
  val OUT_OF_RANGE        = "OUT_OF_RANGE"
  val UNIMPLEMENTED       = "UNIMPLEMENTED"
  val INTERNAL            = "INTERNAL"
  val UNAVAILABLE         = "UNAVAILABLE"
  val DATA_LOSS           = "DATA_LOSS"
  val UNAUTHENTICATED     = "UNAUTHENTICATED"

  val all: Seq[String] = Seq(
    OK, CANCELLED, UNKNOWN, INVALID_ARGUMENT, DEADLINE_EXCEEDED, NOT_FOUND,
    ALREADY_EXISTS, PERMISSION_DENIED, RESOURCE_EXHAUSTED, FAILED_PRECONDITION,
    ABORTED, OUT_OF_RANGE, UNIMPLEMENTED, INTERNAL, UNAVAILABLE, DATA_LOSS,
    UNAUTHENTICATED)

  /** The `grpc-status` number of a name: `all` is in canonical order
    * (OK=0 … UNAUTHENTICATED=16); an unknown name is UNKNOWN (2). */
  def code(name: String): Int = {
    val i = all.indexOf(name)
    if (i >= 0) i else 2
  }

  /** The name of a `grpc-status` number; out of range is UNKNOWN. */
  def named(code: Int): String = if (code >= 0 && code < all.size) all(code) else UNKNOWN
}

/** The `kafka-action` response-trailer vocabulary a consumer may return to
  * override the status-code mapping
  * (reference: uforwarder-client/.../ConsumerResponse.java:57-62). */
object KafkaAction {
  val Retry = "Retry"
  val Stash = "Stash"
  val Skip  = "Skip"
}

object Responses {

  /**
   * Map a consumer response (gRPC status + optional `kafka-action` trailer +
   * deadline-overdue flag) to a dispatch code.
   *
   * Behavioral contract mirrored from
   * `DispatcherImpl.dispatcherResponseFromGrpcStatus`
   * (reference: uforwarder/.../dispatcher/DispatcherImpl.java:70-131) and the
   * action-trailer override in GrpcDispatcher (reference:
   * uforwarder/.../dispatcher/grpc/GrpcDispatcher.java:362-404):
   *   - action trailer wins: Retry→RETRY, Stash→DLQ, Skip→SKIP
   *   - OK→COMMIT, ALREADY_EXISTS→SKIP, RESOURCE_EXHAUSTED→RETRY
   *   - NOT_FOUND/INVALID_ARGUMENT/FAILED_PRECONDITION/ABORTED/OUT_OF_RANGE/
   *     DATA_LOSS→DLQ
   *   - DEADLINE_EXCEEDED→BACKOFF; UNAVAILABLE→BACKOFF iff overdue else INVALID
   *   - everything else→INVALID
   */
  def codeFor(statusCode: String, isOverdue: Boolean, action: Option[String]): DispatchCode =
    action match {
      case Some(KafkaAction.Retry) => DispatchCode.Retry
      case Some(KafkaAction.Stash) => DispatchCode.Dlq
      case Some(KafkaAction.Skip)  => DispatchCode.Skip
      case _ =>
        statusCode match {
          case GrpcStatus.OK                 => DispatchCode.Commit
          case GrpcStatus.ALREADY_EXISTS     => DispatchCode.Skip
          case GrpcStatus.RESOURCE_EXHAUSTED => DispatchCode.Retry
          case GrpcStatus.NOT_FOUND | GrpcStatus.INVALID_ARGUMENT |
              GrpcStatus.FAILED_PRECONDITION | GrpcStatus.ABORTED |
              GrpcStatus.OUT_OF_RANGE | GrpcStatus.DATA_LOSS =>
            DispatchCode.Dlq
          case GrpcStatus.DEADLINE_EXCEEDED => DispatchCode.Backoff
          case GrpcStatus.UNAVAILABLE =>
            if (isOverdue) DispatchCode.Backoff else DispatchCode.Invalid
          case _ => DispatchCode.Invalid
        }
    }
}
