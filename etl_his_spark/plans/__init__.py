# Load the registry before any plan module, so a plan module imported
# first never meets another query family half-initialised (the families
# import shared oracle and CTE fragments from each other).
from .. import registry  # noqa: F401
