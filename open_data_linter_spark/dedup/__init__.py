"""The scoped persist helpers (``_cache.py``) that ``functions/pii.py``
uses."""
