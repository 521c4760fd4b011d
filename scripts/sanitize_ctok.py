#!/usr/bin/env python3
"""AddressSanitizer + UndefinedBehaviorSanitizer run of the C kernel.

Copies ``webx/`` and the kernel tests to a temp dir, builds ``_ctok.so``
there with ``-O1 -g -fsanitize=address,undefined
-fno-sanitize-recover=undefined -ffp-contract=off`` (newer than
``_ctok.c``, so ``webx.ctokenize`` loads it instead of rebuilding), then
runs ``tests/test_ctokenize.py`` and ``tests/test_gnarly_pages.py`` (the
50 committed gnarly pages) against that copy with the ASan runtime
preloaded. Any sanitizer report aborts the run, so a zero exit status is
a clean run. Tests that need a Spark session are skipped: the JVM does
not run under a preloaded ASan runtime.

    python3 scripts/sanitize_ctok.py [extra pytest args]

Needs gcc with libasan and libubsan; nothing is written inside the
checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = ("conftest.py", "test_ctokenize.py", "test_gnarly_pages.py")
CFLAGS = [
    "-O1", "-g", "-fsanitize=address,undefined",
    "-fno-sanitize-recover=undefined", "-ffp-contract=off",
    "-fno-omit-frame-pointer", "-fPIC", "-shared",
]
# replaces the session Spark fixture in the copied conftest
NO_SPARK = '''

@pytest.fixture(scope="session")
def spark():
    pytest.skip("no JVM under a preloaded ASan runtime")
'''


def main(argv) -> int:
    libasan = subprocess.run(
        ["gcc", "-print-file-name=libasan.so"], capture_output=True, text=True,
        check=True,
    ).stdout.strip()
    if not os.path.isabs(libasan):
        print("gcc has no libasan.so", file=sys.stderr)
        return 2
    with tempfile.TemporaryDirectory(prefix="webx-sanitize-") as tmp:
        shutil.copytree(
            os.path.join(REPO, "webx"), os.path.join(tmp, "webx"),
            ignore=shutil.ignore_patterns("_ctok.so*", "__pycache__"),
        )
        tdir = os.path.join(tmp, "tests")
        os.makedirs(tdir)
        for name in TESTS:
            shutil.copy2(os.path.join(REPO, "tests", name), tdir)
        shutil.copytree(
            os.path.join(REPO, "tests", "fixtures", "gnarly"),
            os.path.join(tdir, "fixtures", "gnarly"),
        )
        with open(os.path.join(tdir, "conftest.py"), "a") as f:
            f.write(NO_SPARK)
        src = os.path.join(tmp, "webx", "_ctok.c")
        so = os.path.join(tmp, "webx", "_ctok.so")
        subprocess.run(["gcc", *CFLAGS, "-o", so, src], check=True)
        later = max(time.time(), os.path.getmtime(src)) + 1
        os.utime(so, (later, later))
        env = dict(
            os.environ,
            LD_PRELOAD=libasan,
            ASAN_OPTIONS="detect_leaks=0:abort_on_error=1",
            # Python objects from plain malloc: the documents' own bytes
            # get ASan redzones too
            PYTHONMALLOC="malloc",
            # and Arrow buffers (the html columns the kernel reads in
            # place) from the system allocator, for the same reason
            ARROW_DEFAULT_MEMORY_POOL="system",
            UBSAN_OPTIONS="print_stacktrace=1:halt_on_error=1",
            PYTHONDONTWRITEBYTECODE="1",
        )
        env.pop("PYTHONPATH", None)
        check = (
            "import webx.ctokenize as ck, sys; "
            "sys.exit(0 if ck.AVAILABLE and ck._lib._name == sys.argv[1] else 1)"
        )
        if subprocess.run([sys.executable, "-c", check, so], cwd=tmp, env=env).returncode:
            print("the sanitized build did not load", file=sys.stderr)
            return 2
        cmd = [
            # --capture=sys: sanitizer reports (C writes to fd 2) reach
            # the terminal before the abort
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            "--capture=sys",
            "tests/test_ctokenize.py", "tests/test_gnarly_pages.py", *argv,
        ]
        print("+", " ".join(cmd), f"(LD_PRELOAD={libasan})", flush=True)
        return subprocess.run(cmd, cwd=tmp, env=env).returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
