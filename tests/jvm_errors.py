"""Classifier for the exception a JVM-backed index operation raises
when a path it read was renamed away mid-read (a concurrent segment
retract). Test support: tests/parallel_index_worker.py records it for
every failed operation, and tests/test_retrieval_parallel.py accepts a
Py4J- or AnalysisException-rendered loser only when it holds."""

from __future__ import annotations


def _is_file_vanished(exc: BaseException) -> bool:
    """True when an exception (or anything in its cause/context chain)
    is the file-vanished signature of a concurrent segment retract:
    a path the operation read was renamed away mid-read. Matches
    Python's FileNotFoundError and the JVM-side forms PySpark
    surfaces — AnalysisException [PATH_NOT_FOUND] at plan time, or an
    executor SparkException wrapping java.io.FileNotFoundException.
    The two-process stress tests accept a JVM-rendered race loser only
    when this holds: a crash of another class in protocol code must
    fail them, not pass as the benign interleaving."""
    seen: set[int] = set()
    while exc is not None and id(exc) not in seen:
        seen.add(id(exc))
        if isinstance(exc, FileNotFoundError):
            return True
        # Structured checks first (ADVICE r10 #2 — str(exc) on a
        # captured JVM error renders the WHOLE stack trace, so an
        # unrelated failure whose trace merely mentions a
        # FileNotFoundException frame would trigger the expensive fold
        # retry): Spark 4's error condition for a vanished path at
        # plan time is PATH_NOT_FOUND (CapturedException.getCondition),
        # and a driver-side mid-read retract surfaces as a JVM cause
        # chain reaching java.io.FileNotFoundException — walk the REAL
        # getCause() chain on the Java throwable, not its rendering.
        cond = getattr(exc, "getCondition", None)
        try:
            if callable(cond) and cond() == "PATH_NOT_FOUND":
                return True
        except Exception:
            pass  # no SparkContext / non-SparkThrowable origin
        jthrow = getattr(exc, "_origin", None) or getattr(
            exc, "java_exception", None
        )
        jseen = 0
        while jthrow is not None and jseen < 32:
            jseen += 1
            try:
                if jthrow.getClass().getName() == (
                    "java.io.FileNotFoundException"
                ):
                    return True
                # An EXECUTOR-side FileNotFoundException is serialized
                # as TEXT in the stage-failure SparkException's message
                # (no java cause link survives task serialization), and
                # a raw Py4JJavaError's top str() line is just "An
                # error occurred while calling o..." — so match the
                # throwable's own message too (ADVICE r11 #1). But only
                # its HEAD — the reason segment before the first stack
                # frame or "Caused by:" block (review r12): a stage-
                # failure message embeds the task's FULL rendered trace,
                # and an unrelated error whose trace merely mentions an
                # FNF frame (wrapped-and-rethrown, suppressed) must not
                # be classified as the benign vanished-file race. The
                # genuine executor-side case renders the FNF class in
                # the reason segment itself ("Lost task …:
                # java.io.FileNotFoundException: …") before any frame.
                jmsg = jthrow.getMessage()
                if isinstance(jmsg, str):
                    head = jmsg.split("\n\tat ", 1)[0].split(
                        "\nCaused by", 1
                    )[0]
                    # substring (not fully-qualified) so executor-side
                    # FNF SUBCLASSES, which render their own class name
                    # in the reason head, still match (ADVICE r12 #4);
                    # the head restriction above already prevents
                    # trace-frame false positives.
                    if (
                        "PATH_NOT_FOUND" in head
                        or "FileNotFoundException" in head
                    ):
                        return True
                jthrow = jthrow.getCause()
            except Exception:
                break  # gateway gone mid-walk — fall through to text
        # Fallback for what structure can't reach — an EXECUTOR-side
        # FileNotFoundException exists only as text inside the stage-
        # failure description. Match the description (_desc — no JVM
        # stacktrace appended) or, for plain exceptions, the TOP LINE
        # only; never the full rendered trace.
        msg = getattr(exc, "_desc", None)
        if not isinstance(msg, str):
            msg = (str(exc).splitlines() or [""])[0]
        if "PATH_NOT_FOUND" in msg or "FileNotFoundException" in msg:
            return True
        nxt = exc.__cause__ or exc.__context__
        if nxt is None:
            nxt = getattr(exc, "_cause", None)  # CapturedException chain
        exc = nxt
    return False
