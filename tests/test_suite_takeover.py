"""Which pytest invocations the conftest hands to the sharded runner.
Only a plain run over the whole tests directory may be taken over;
anything the runner would not honour must run in-process as asked."""

from __future__ import annotations

import os
import types

import pytest
from _pytest.config import get_config

from conftest import _is_full_suite_invocation

TESTS = os.path.dirname(os.path.abspath(__file__))


def _config(*args: str):
    """A config stand-in carrying what pytest's own parser makes of
    ``args`` (the option names are pytest's, not guessed)."""
    ns = get_config()._parser.parse_known_args([TESTS, *args])
    return types.SimpleNamespace(option=ns, args=ns.file_or_dir)


def test_tier1_invocation_is_sharded():
    assert _is_full_suite_invocation(
        _config("-q", "--continue-on-collection-errors",
                "-p", "no:cacheprovider")
    )


@pytest.mark.parametrize("args", [
    ("-x",),
    ("--exitfirst",),
    ("--maxfail", "3"),
    ("--deselect", "tests/test_registry.py::test_x"),
    ("--ignore", "tests/test_registry.py"),
    ("--ignore-glob", "*registry*"),
    ("--junitxml", "report.xml"),
    ("-k", "provenance"),
    ("--collect-only",),
])
def test_options_the_runner_would_drop_run_in_process(args):
    assert not _is_full_suite_invocation(_config(*args))


def test_narrower_paths_run_in_process():
    cfg = _config()
    cfg.args = [os.path.join(TESTS, "test_registry.py")]
    assert not _is_full_suite_invocation(cfg)
