from .inspect import explain_str, assert_single_shuffle  # noqa: F401
