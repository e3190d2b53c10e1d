"""Time one checkpointed build in a JVM of its own.

    python3 perfbench/cold_build.py PAGES_DIR WORKDIR WORK HEAP_MB CORES

Prints the build seconds as the last line of stdout.  ``run.py`` calls it
for the half-core build of the traced run: a process cannot relaunch its
JVM, since the engine's UDFs stay bound to the first one.
"""

import sys

from run import ROOT, Session, build

if __name__ == "__main__":
    pages_dir, workdir, work, heap_mb, cores = sys.argv[1:]
    sys.path.insert(0, ROOT)
    from tracing import ProcessTree
    session = Session(work, int(heap_mb))
    try:
        print(build(session.start(int(cores)), pages_dir, workdir)[1])
    finally:
        session.shutdown(ProcessTree())
