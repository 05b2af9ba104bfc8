"""The package's default path must not depend on environment variables:
no module under ``mapping_timeseries_spark/`` may read ``os.environ`` or
``os.getenv``. A static scan, so it needs no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "mapping_timeseries_spark"
ENV_READERS = {"environ", "environb", "getenv", "getenvb"}


def env_reads(source: str) -> list[int]:
    """Line numbers where ``source`` touches the environment through the
    ``os`` module, under any alias (``import os as _os``,
    ``from os import getenv``)."""
    tree = ast.parse(source)
    os_names = {
        alias.asname or alias.name
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for alias in node.names
        if alias.name == "os"
    }
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_READERS for a in node.names):
                lines.append(node.lineno)
        elif (
            isinstance(node, ast.Attribute)
            and node.attr in ENV_READERS
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
        ):
            lines.append(node.lineno)
    return lines


def test_scan_catches_every_form():
    assert env_reads("import os\nos.environ.get('X')") == [2]
    assert env_reads("import os as _os\n_os.getenv('X')") == [2]
    assert env_reads("from os import environ") == [1]
    assert env_reads("import os\nos.path.join('a', 'b')") == []


def test_package_reads_no_environment_variables():
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in env_reads(path.read_text())
    ]
    assert offenders == []
