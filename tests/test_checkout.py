"""The suite imports the checkout it runs from, not another copy."""

import os


def test_imports_come_from_this_checkout(repo_root):
    import prohap_spark

    pkg = os.path.realpath(prohap_spark.__file__)
    assert pkg.startswith(os.path.realpath(repo_root) + os.sep), pkg
