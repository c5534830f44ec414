"""The 50 recorded gates: each builds a plan from public ``orthority_spark``
operators and pairs it with a DuckDB oracle string (``registry``).

Fixture code, not engine: nothing under ``orthority_spark`` imports this
package, and no gate defines a module-level function that runs on
executors, so the executors need only the shipped ``orthority_spark``
zip (cloudpickle pickles module-level functions by reference).
"""
