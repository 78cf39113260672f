"""Interactive extraction shell — the ReachShell / `ashell` analog
(`main/src/main/scala/org/clulab/reach/ReachShell.scala`, launched by
the reference's `ashell` script): a REPL whose default action runs the
full extraction pipeline on the typed text and pretty-prints the
per-sentence mention blocks (`display.display_mentions`, the
displayMentions analog), with menu commands like the reference's
HelpMenuItem/ExitMenuItem.

Commands:
  :help            show commands
  :triples on|off  also print the flattened (subj, pred, obj) triples
  :format FMT      print the serialized result instead (fries, indexcard,
                   serial-json, arizona, cmu, bel, biopax, brat) — the
                   api.annotate_text formats; `:format off` reverts
  :exit            exit

Spark shape: single-document driver-side dispatch, exactly the REST
API's interactive path — the shell is an operator console, not a batch
surface; corpora go through `jobs/run_pipeline.py`.

Run: python -m reach_spark.shell
"""

from __future__ import annotations

from pyspark.sql import SparkSession

_HELP = """\
commands:
  :help            show commands
  :triples on|off  toggle printing flattened triples (default off)
  :format FMT      print serialized output instead (fries, indexcard,
                   serial-json, arizona, cmu, bel, biopax, brat);
                   :format off
  :exit            exit
anything else is extracted and displayed per sentence"""

_FORMATS = ("fries", "indexcard", "serial-json", "arizona", "cmu",
            "bel", "biopax", "brat")


class ReachShell:
    """Testable REPL core: `handle(line)` returns (keep_going, output).
    The printing/input loop lives in `main()` so tests drive commands
    without a tty (same split as the reference's Menu/CliReader)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.show_triples = False
        self.out_format: str | None = None
        self._n = 0

    def handle(self, line: str) -> tuple[bool, str]:
        line = line.strip()
        if not line:
            return True, ""
        if line == ":exit":
            return False, "exiting..."
        if line == ":help":
            return True, _HELP
        if line.startswith(":triples"):
            arg = line.split(None, 1)[1].strip() if " " in line else "on"
            if arg not in ("on", "off"):
                return True, "usage: :triples on|off"
            self.show_triples = arg == "on"
            return True, f"triples {arg}"
        if line.startswith(":format"):
            arg = line.split(None, 1)[1].strip() if " " in line else ""
            if arg == "off":
                self.out_format = None
                return True, "format off (mention display)"
            if arg not in _FORMATS:
                return True, f"usage: :format {{{'|'.join(_FORMATS)}|off}}"
            self.out_format = arg
            return True, f"format {arg}"
        if line.startswith(":"):
            return True, f"unknown command {line.split()[0]!r} — :help"
        return True, self._extract(line)

    def _extract(self, text: str) -> str:
        self._n += 1
        doc_id = f"shell{self._n}"
        if self.out_format is not None:
            from .api import annotate_text
            resp = annotate_text(self.spark, text, doc_id=doc_id,
                                 out_format=self.out_format)
            if resp.get("hasError"):
                return f"error: {resp.get('errorMessage')}"
            return resp["result"]
        from .api import text_documents
        from .display import summarize_mentions
        from .pipeline import extract_dataframe
        res = extract_dataframe(self.spark,
                                text_documents(self.spark, text, doc_id))
        try:
            blocks = [r.summary for r in
                      (summarize_mentions(res["resolved_mentions"],
                                          res["sentences"])
                       .orderBy("doc_id", "sent_idx").collect())]
            out = "\n".join(blocks)
            if self.show_triples:
                trips = res["triples"].orderBy("pred", "obj").collect()
                lines = [f"  ({t['subj']}, {t['pred']}, {t['obj']})"
                         + (" [negated]" if t["negated"] else "")
                         for t in trips]
                out += "\nTRIPLES: " + str(len(trips))
                if lines:
                    out += "\n" + "\n".join(lines)
        finally:
            res.cleanup()
        return out


def main() -> None:
    try:
        import readline  # noqa: F401  (line editing + history, like CliReader)
    except ImportError:
        pass
    print("Loading reach_spark ...")
    from .session import get_spark
    spark = get_spark(app_name="reach-shell")
    shell = ReachShell(spark)
    print("Welcome to ReachShell! (:help for commands)")
    while True:
        try:
            line = input(">>> ")
        except (EOFError, KeyboardInterrupt):
            print()
            break
        keep_going, out = shell.handle(line)
        if out:
            print(out)
        if not keep_going:
            break
    spark.stop()


if __name__ == "__main__":
    main()
