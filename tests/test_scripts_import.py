"""Every ``scripts/*.py`` imports cleanly.

The scripts are ``__main__``-guarded, so importing one runs only its
top-level imports and constants: a script whose imports name a deleted
or renamed helper fails here instead of on its next manual run."""

import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_imports(path):
    name = "script_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
