"""Every `tools/<name>.py` that the docs, the bench and the code name must
exist, so a deleted tool leaves no dangling reference behind. A path
pinned to a commit (`<sha>:tools/<name>.py`) names a deleted script on
purpose and is not checked."""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ["README.md", "COVERAGE.md", "bench.py", "tests/*.py", "tools/*.py"]
TOOL_PATH = re.compile(r"(\b[0-9a-f]{7,40}:)?\btools/(\w+)\.py\b")


def test_named_tool_paths_exist():
    missing = []
    for pattern in SCANNED:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for m in TOOL_PATH.finditer(text):
                pinned, name = m.groups()
                if not pinned and not os.path.exists(os.path.join(REPO, "tools", name + ".py")):
                    missing.append(f"{os.path.relpath(path, REPO)}: tools/{name}.py")
    assert not missing, missing
