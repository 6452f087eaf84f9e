"""Every script the docs and the gate name must exist.

A relative path whose first component is a top-level directory of the
repository (``tools/gate.sh``, ``perfbench/run.py``) must exist as
written. A bare ``name.py`` must be a root-level script or a module of
the package (the README's module tree names them bare).
"""

from __future__ import annotations

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rsyslog_nginx_clickhouse_spark"
DOCS = ["README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"),
        os.path.join("tools", "gate.sh")]

_PATH = re.compile(r"(?<![\w./-])([\w.-]+(?:/[\w.-]+)*\.(?:py|sh))\b")


def missing_refs(text: str, root: str) -> list[str]:
    """The script paths named in ``text`` that do not exist under ``root``."""
    top = {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}
    modules = {f for _, _, files in os.walk(os.path.join(root, PACKAGE))
               for f in files}
    missing = []
    for ref in sorted(set(_PATH.findall(text))):
        if "/" in ref:
            if ref.split("/", 1)[0] in top \
                    and not os.path.isfile(os.path.join(root, ref)):
                missing.append(ref)
        elif not (os.path.isfile(os.path.join(root, ref)) or ref in modules):
            missing.append(ref)
    return missing


@pytest.mark.parametrize("doc", DOCS)
def test_named_scripts_exist(doc):
    with open(os.path.join(REPO, doc)) as f:
        assert missing_refs(f.read(), REPO) == []


def test_missing_tool_is_reported(tmp_path):
    os.makedirs(tmp_path / "tools")
    os.makedirs(tmp_path / PACKAGE / "functions")
    (tmp_path / "tools" / "selfcheck.py").write_text("")
    (tmp_path / "entry.py").write_text("")
    (tmp_path / PACKAGE / "functions" / "macros.py").write_text("")
    text = ("python tools/selfcheck.py\npython tools/retired.py\n"
            "python timer.py\nentry.py  macros.py  functions/macros.py\n")
    assert missing_refs(text, str(tmp_path)) == \
        ["timer.py", "tools/retired.py"]
