"""Run ``jobs/serve.py`` with the serving layers traced.

    python3 perfbench/serve_launcher.py TRACE_DIR [serve.py args ...]

Installs the span wrappers, then calls ``jobs/serve.py``'s ``main``
in this process, so the pre-forked workers inherit them and the
process layout is the one deployed.  On SIGUSR1 every server process
writes its spans to ``TRACE_DIR/spans-<pid>.jsonl``.
"""

from __future__ import annotations

import importlib.util
import os
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from perfbench.trace import Tracer, install_server, install_serving

    out_dir, argv = sys.argv[1], sys.argv[2:]
    spec = importlib.util.spec_from_file_location(
        "serve_job", os.path.join(ROOT, "jobs", "serve.py"))
    serve = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(serve)

    tracer = Tracer()
    install_serving(tracer)
    install_server(tracer, serve)

    def dump(signum, frame):
        path = os.path.join(out_dir, f"spans-{os.getpid()}.jsonl")
        tracer.dump(path + ".tmp")
        os.replace(path + ".tmp", path)

    signal.signal(signal.SIGUSR1, dump)
    serve.main(argv)


if __name__ == "__main__":
    main()
