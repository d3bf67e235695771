"""Duplicate-span statistics and removal (``spans.py``) and the scoped
persist helpers it and the ``functions/`` text operators share."""
