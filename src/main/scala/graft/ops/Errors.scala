package graft.ops

/** The reference's observable error surface (`exit_codes.py:1-4`), as a
  * typed hierarchy. The engine API throws; only a CLI layer would map to
  * process exits. `MoveError` is referenced by the reference
  * (`move_file.py:104`) but never defined there — a latent
  * `AttributeError`; we define it (SURVEY.md §2.8).
  */
sealed abstract class BlueprintError(val exitCode: Int, msg: String)
    extends RuntimeException(msg)

object BlueprintError {
  final case class IncorrectCredentials(detail: String)
      extends BlueprintError(3, s"Incorrect credentials: $detail")

  final case class NoMatchesFound(pattern: String)
      extends BlueprintError(200, s"No files matching $pattern found")

  final case class DeleteError(path: String, cause: Throwable)
      extends BlueprintError(202, s"Delete failed for $path")

  /** Missing from the reference's exit_codes.py; next free code. */
  final case class MoveError(src: String, dst: String, cause: Throwable)
      extends BlueprintError(203, s"Move failed: $src -> $dst")

  /** Upload to an existing destination — the reference refuses
    * (`upload_file.py:188-190`, azure ResourceExistsError). */
  final case class DestinationExists(path: String)
      extends BlueprintError(1, s"File already exists: $path")
}
