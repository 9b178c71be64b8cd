"""Column-expression builders (``text``, ``similarity``, ``pq``, ...).

Import the submodules directly. The package imports none of them
eagerly: ``operators.dedup`` imports ``functions.sqltext`` while
``functions.text`` imports ``operators.dedup``, so an eager import
here would close that cycle on a half-initialized module.
"""
